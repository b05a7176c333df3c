"""The ``Store`` — reference-shaped table API over parquet + manifest.

Reference surface (``src/lib.rs``): ``Store::new`` (``:80-87``), ``insert``
(``:178-187``), ``find`` (``:130-137``), ``delete``/``delete_filter``
(``:140-169``), ``index`` (``:195-205``). Same semantics, re-expressed for
a shared-nothing cluster:

- **insert** is batch-first (a single row is the degenerate batch). Each
  batch gets dense autoincrement ``__rowid`` values from the manifest
  watermark (reference ``rowid`` counter, ``src/lib.rs:57,186``; modeled on
  SQLite rowids, ``src/lib.rs:7-9``). Dense numbering uses per-partition
  counts + a window — NOT ``monotonically_increasing_id`` alone, which is
  sparse. Indices are updated as part of the same commit, mirroring
  index-maintenance-on-insert (``src/lib.rs:181-184``).
- **find** compiles the AND-list of conditions to one Spark filter, after
  index-driven *file pruning* (see ``plans.access_path``). The pruned scan
  re-checks every condition — the reference's superset-then-residual-filter
  contract (``src/lib.rs:89-91,133``). Returns a lazy ``DataFrame`` (the
  analogue of ``find``'s lazy iterator, ``src/lib.rs:134-136``): nothing
  runs until an action.
- **delete / delete_filter** are copy-on-write: affected files are rewritten
  without the victim rows and the manifest flips atomically
  (``src/lib.rs:149-169``; add/remove-only abstraction per ``README.md:32``).
  ``delete_filter``'s arbitrary row closure (``src/lib.rs:149``) is accepted
  as a Spark ``Column`` (fast path) or a Python callable (row-at-a-time UDF
  — the slow path, parity only).
- **index** backfills from all live rows then registers, replacing any
  existing index on the column (``src/lib.rs:195-205``; silent replace at
  ``:204``). Works before or after data exists (``src/lib.rs:330-345``).
- schema arity is *always* validated (the reference only
  ``debug_assert``s, ``src/lib.rs:179`` — "bleh"; SURVEY §4.3).

Scale notes (100 TB design point): data and posting files are immutable
parquet; commits only touch metadata + affected files; a full scan is a
plain multi-file parquet read that Catalyst pushes filters into; index
lookups read a key-pruned slice of the posting parts (small) and then only
the surviving data files. Manifest file lists would graduate to
Iceberg-style avro manifests at millions of files — the JSON layout here
keeps the same information.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid
from typing import Any, Callable, Iterable, Sequence

import pyarrow.lib as pa_err
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cmp import Condition, conjunction
from .idx import BLOOM, BTREE, COMPOSITE, HASH, TRIGRAM, IndexSpec, as_index_kind
from .manifest import DataFile, Manifest
from .plans import AccessPath, choose_access_path
from .session import scoped_confs

ROWID = "__rowid"

__all__ = ["Store", "ROWID"]


def _bloom_positions_py(key: Any, m_bits: int, k: int) -> list[int]:
    """Driver-side twin of :func:`_bloom_positions_expr` — MUST stay
    bit-identical with the Spark expression (same md5-of-"key:i" scheme)
    so a probe computed here tests bitsets built there."""
    import hashlib

    return [
        int(hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:15], 16) % m_bits
        for i in range(k)
    ]


def _bloom_positions_expr(column: str, m_bits: int, k: int) -> Column:
    """k bit positions per row, computed JVM-side: position_i =
    md5("<key as string>:<i>") taken as a 60-bit int, mod m. md5 (not
    xxhash64) because the driver-side probe must reproduce it exactly
    with hashlib — portability beats speed for a per-row-at-write-time
    hash."""
    return F.expr(
        f"transform(sequence(0, {k - 1}), i -> "
        f"pmod(cast(conv(substring(md5(cast(concat(cast(`{column}` as string), ':', "
        f"cast(i as string)) as binary)), 1, 15), 16, 10) as bigint), {m_bits}))"
    )


def _default_schema(cols: int) -> T.StructType:
    """``Store::new(cols)`` has positional, homogeneously-typed columns
    (``src/lib.rs:4-5,80-87``); default them to strings named c0..cN-1."""
    return T.StructType([T.StructField(f"c{i}", T.StringType(), True) for i in range(cols)])


def _rolls_back(method):
    """The one rollback rule for every ``Store`` mutation: like the
    reference's ``&mut self`` ops (``src/lib.rs:140-187``) it changes
    nothing unless it finishes. A mutation stages freely in the in-memory
    manifest; if it raises before its commit moved the version, the
    handle reloads its committed snapshot and the error re-raises. Props
    the caller staged for the commit are dropped with it; files the
    failed attempt wrote are left for ``vacuum``.

    The reload pins the version, so a handle opened at an older snapshot
    (``open(version=...)``, ``as_of``, tag) stays there instead of
    fast-forwarding to the latest. Session-scoped custom indexer objects
    are carried over (they are not serializable — reopen semantics);
    every version-keyed cache is dropped (entries may reference posting
    parts staged by the failed attempt). If the pinned v{N}.json was
    vacuumed meanwhile, the latest version loads instead (r8 ADVICE):
    the state a reopen would see, and FileNotFoundError never masks the
    original error."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        v_before = self.manifest.version
        try:
            return method(self, *args, **kwargs)
        except BaseException:
            if self.manifest.version != v_before:
                raise
            customs = {
                c: s.custom
                for c, s in self.manifest.indices.items()
                if s.custom is not None
            }
            try:
                self.manifest = Manifest.load(self.path, version=v_before)
            except FileNotFoundError:
                self.manifest = Manifest.load(self.path)
            for c, cu in customs.items():
                if c in self.manifest.indices:
                    self.manifest.indices[c].custom = cu
            for df in self._posting_cache.values():
                try:
                    df.unpersist()
                except Exception:
                    pass
            for cache in (
                self._posting_cache,
                self._posting_maps,
                self._bloom_maps,
                self._bloom_fetched,
                self._stats_np,
            ):
                cache.clear()
            raise

    return wrapper


class Store:
    # target rows per data file: keeps file count bounded as batches grow
    # (small-files hygiene — at 100 TB this is the knob that keeps the
    # manifest and the task count sane; ~1M rows ≈ 50-150 MB parquet)
    ROWS_PER_FILE = 1_000_000

    def __init__(self, spark: SparkSession, path: str, manifest: Manifest):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.manifest = manifest
        self._posting_cache: dict[tuple, DataFrame] = {}
        # driver-side posting maps (column, version) -> {key: {file_id}} —
        # the distributed analogue of the reference's in-memory
        # HashMap<K, Vec<rowid>> lookup (src/idx.rs:41-46), built only for
        # small indexes (POSTING_MAP_MAX entries); big ones stay on disk
        self._posting_maps: dict[tuple, dict] = {}
        # (column, version) -> {file_id: bitset bytes} for BLOOM indices —
        # m_bits/8 bytes per live file, probed driver-side with zero jobs.
        # Above BLOOM_EAGER_MAX files the map fills LAZILY per candidate;
        # _bloom_fetched tracks which ids were already requested so an
        # absent bitset is not re-fetched on every probe.
        self._bloom_maps: dict[tuple, dict] = {}
        self._bloom_fetched: dict[tuple, set] = {}
        # (column, version) -> vectorized per-file stats arrays for the
        # driver-side pruning loop (the SCALE.md graduation: numpy columns
        # instead of a Python loop over files)
        self._stats_np: dict[tuple, tuple] = {}

    POSTING_MAP_MAX = 2_000_000

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: T.StructType | int) -> "Store":
        """``Store::new(cols)`` (``src/lib.rs:80-87``) — an int gives the
        reference's positional all-string table; a ``StructType`` gives real
        named, typed columns (strict superset)."""
        if isinstance(schema, int):
            schema = _default_schema(schema)
        if ROWID in schema.fieldNames():
            raise ValueError(f"{ROWID} is reserved")
        os.makedirs(path, exist_ok=True)
        manifest = Manifest(schema_json=schema.json())
        manifest.commit(path)
        return cls(spark, path, manifest)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        version: int | None = None,
        as_of: float | None = None,
        tag: str | None = None,
    ) -> "Store":
        """Open the current snapshot, a specific ``version``, (``as_of``
        epoch seconds) the latest snapshot committed at or before that
        instant — AS OF TIMESTAMP time travel, resolved driver-side from
        the manifests' ``committed_at`` stamps — or a named ``tag``
        (Iceberg-style ref: the tag name resolves to the version recorded
        by :meth:`tag` in the LATEST manifest, then that snapshot loads;
        a retagged name follows the newest commit's value)."""
        if sum(x is not None for x in (version, as_of, tag)) > 1:
            raise ValueError("pass at most one of version / as_of / tag")
        if as_of is not None:
            version = Manifest.version_as_of(path, as_of)
        if tag is not None:
            head = Manifest.load(path)
            key = f"tag:{tag}"
            if key not in head.props:
                raise ValueError(f"no tag {tag!r}")
            version = int(head.props[key])
        return cls(spark, path, Manifest.load(path, version))

    @_rolls_back
    def tag(self, name: str, version: int | None = None) -> int:
        """Record a NAMED snapshot ref (Iceberg tag): ``name`` → the
        current (or given) version, persisted in the manifest props via
        one metadata-only commit — so tags are themselves versioned,
        replicate with the table, and survive reopen. Returns the tagged
        version. Retagging a name moves it (last write wins); vacuum
        retention is unaffected (tags pin NOTHING — vacuum past a tag
        invalidates it, the documented lakehouse trade; raise
        ``retain_versions`` to keep tagged history readable)."""
        if not name or "/" in name:
            raise ValueError(f"bad tag name {name!r}")
        v = self.manifest.version if version is None else int(version)
        self.manifest.props[f"tag:{name}"] = str(v)
        self._commit()
        return v

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, parquet: str | Sequence[str]) -> "Store":
        """Ingest existing parquet (e.g. the driver fixtures) into a Store."""
        df = spark.read.parquet(*([parquet] if isinstance(parquet, str) else list(parquet)))
        store = cls.create(spark, path, df.schema)
        store.insert(df)
        return store

    # -- helpers ------------------------------------------------------------

    @property
    def cols(self) -> int:
        return len(self.manifest.colnames)

    @property
    def colnames(self) -> list[str]:
        return self.manifest.colnames

    @property
    def schema(self) -> T.StructType:
        return self.manifest.schema

    def _schema_with_rowid(self) -> T.StructType:
        return T.StructType(
            [T.StructField(ROWID, T.LongType(), False), *self.manifest.schema.fields]
        )

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def _empty(self, with_rowid: bool = False) -> DataFrame:
        """Empty relation in the store schema. The ``filter(False)`` is
        load-bearing: a bare ``createDataFrame([], ...)`` is RDD-backed
        with defaultParallelism EMPTY partitions that survive into every
        union/join that embeds it (measured: the CDC delta's two empty
        placeholder branches added 64 no-op map tasks to every matview
        refresh), while a provably-false filter lets PruneFilters rewrite
        the branch to an empty LocalRelation that PropagateEmptyRelation
        deletes from the plan outright."""
        schema = self._schema_with_rowid() if with_rowid else self.manifest.schema
        return self.spark.createDataFrame([], schema).filter(F.lit(False))

    def _read_files(self, files: Sequence[DataFile], with_meta: bool = False) -> DataFrame:
        paths = [self._abs(f.path) for f in files]
        df = self.spark.read.schema(self._schema_with_rowid()).parquet(*paths)
        if with_meta:
            # _metadata.file_path is a file: URI; normalize to a plain
            # absolute path so it joins against manifest paths.
            df = df.withColumn(
                "__file_path",
                F.concat(F.lit("/"), F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "")),
            )
        if self.manifest.tombstones:
            # merge-on-read: anti-join the tombstoned rowids. ALL data reads
            # flow through here, so every query surface (find / multiget /
            # delete-victim scans / compact) sees only live rows.
            df = df.join(self._tombstone_df(), ROWID, "left_anti")
        return df

    def _tombstone_df(self) -> DataFrame:
        return self.spark.read.schema(f"{ROWID} long").parquet(
            *[self._abs(t) for t in self.manifest.tombstones]
        )

    def _file_id_map(self, files: Sequence[DataFile]) -> DataFrame:
        """Small (path → file id) mapping df; broadcast into posting builds."""
        rows = [(self._abs(f.path), f.id) for f in files]
        return self.spark.createDataFrame(rows, "__file_path string, __file_id int")

    # -- insert (src/lib.rs:178-187) ----------------------------------------

    @_rolls_back
    def insert(
        self,
        rows: DataFrame | Iterable[Sequence[Any]],
        stable_input: bool = False,
        micro_batch: bool = False,
    ) -> int:
        """Append a batch. Returns the number of rows inserted.

        Arity/schema is validated always (vs debug-only ``src/lib.rs:179``).

        ``stable_input=True`` is the caller's assertion that ``rows`` is
        already MATERIALIZED and partition-stable (e.g. a fresh
        ``localCheckpoint`` — matview refresh, streaming micro-batches):
        the rowid-tagging pass then uses a lazy ``persist`` instead of a
        second eager ``localCheckpoint``, saving one full materialization
        job per insert. Determinism still holds — every op between the
        stable parent and the tag (sorted round-robin repartition,
        partition-local ids) is deterministic given fixed parent blocks,
        so a cache-miss recompute renumbers nothing.

        ``micro_batch=True`` is the caller's DRIVER-SIDE bound that the
        batch is micro (e.g. a matview refresh whose manifest arithmetic
        bounded the delta): the batch then lands as ONE file in ONE job —
        ``coalesce(1)`` makes rowid = watermark + partition-local id with
        no counts pass and no second materialization, and the row count
        comes from the written parquet footer. Correct at any actual size
        (a misjudged bound costs one oversized file, not wrong rowids);
        rowid ASSIGNMENT ORDER within the batch follows the coalesced
        partition order rather than the round-robin tag order, so callers
        must not depend on which batch row got which rowid (dense-range
        semantics are identical).
        """
        schema = self.manifest.schema
        if isinstance(rows, DataFrame):
            df = rows
            if [f.name for f in df.schema.fields] != schema.fieldNames():
                raise ValueError(
                    f"schema mismatch: expected {schema.fieldNames()}, "
                    f"got {[f.name for f in df.schema.fields]}"
                )
            for mine, theirs in zip(schema.fields, df.schema.fields):
                if mine.dataType != theirs.dataType:
                    raise ValueError(
                        f"schema mismatch on {mine.name!r}: store has "
                        f"{mine.dataType.simpleString()}, batch has "
                        f"{theirs.dataType.simpleString()}"
                    )
        else:
            data = [tuple(r) for r in rows]
            for r in data:
                if len(r) != len(schema.fields):
                    raise ValueError(f"row has {len(r)} columns, store has {len(schema.fields)}")
            if not data:
                return 0
            # literal micro-batches ingest DRIVER-SIDE when eligible: a
            # bounded Python list needs no cluster to validate, number and
            # write — the Spark path costs ~6 jobs (constraint aggregates,
            # checkpoint, counts, write) of pure scheduling floor for a
            # handful of rows (opt guide §1.2: don't launch distributed
            # jobs for metadata-class data)
            done = self._insert_rows_driver(data, schema)
            if done is not None:
                return done
            df = self.spark.createDataFrame(data, schema)

        if isinstance(rows, DataFrame):
            # tiny DataFrame batches take the same driver kernel: when the
            # optimizer's own size estimate bounds the batch (driver-side
            # metadata, no job) a single bounded take() replaces the whole
            # distributed tail (checkpoint + counts + clustering + write —
            # ~5 jobs of scheduling floor for a handful of rows). The
            # estimate is scale-honest: it grows with the input files, so
            # real batches never probe and never collect. CAVEAT: when the
            # probe fires but the kernel declines (underestimate past the
            # row cap, un-orderable values), the input plan is EVALUATED
            # TWICE — the bounded take() and then the distributed insert —
            # so non-idempotent sources (UDFs with side effects) may run
            # twice. Disable with SPARK_GRAFT_DRIVER_INSERT_EST=0 if that
            # matters for a given input.
            taken = self._take_micro_df(df)
            if taken is not None and not taken:
                return 0  # probed bound proved the batch empty — no jobs
            if taken:
                done = self._insert_rows_driver([tuple(r) for r in taken], schema)
                if done is not None:
                    return done

        # Dense rowid assignment: per-partition counts -> cumulative offsets,
        # then a row_number within each original partition. Two passes over
        # the batch (same cost class as zipWithIndex) but stays in DataFrame
        # land. A single-file source arrives as one partition, which would
        # serialize the whole window — spread it first. The tagged batch is
        # localCheckpoint'ed (materialized, lineage CUT): pid/mid come from
        # nondeterministic ops (round-robin repartition, monotonic ids), so
        # a cache-miss recompute between the two passes could renumber rows;
        # with the lineage cut, a lost partition fails the job instead of
        # silently skipping/duplicating rowids. Under ``stable_input`` the
        # parent is already a materialized cut, so a lazy persist carries
        # the same determinism without the extra materialization job.
        self._enforce_constraints(df)
        watermark = self.manifest.rowid
        if micro_batch:
            return self._insert_tagged_micro(df, schema, watermark)
        from .functions import ensure_parallelism

        tagged = (
            ensure_parallelism(df)
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        try:
            # lazy cut: the counts collect (the tag pass's first action)
            # materializes the checkpoint in the SAME job — an eager
            # localCheckpoint here paid one extra full materialization job
            # per DataFrame insert for identical determinism (the blocks
            # are cut before with_id's second pass either way).
            # Under AQE, localCheckpoint's toRdd eagerly MATERIALIZES the
            # tag plan's shuffle map stage (query-stage re-planning buys
            # nothing for a fixed-width repartition) and the counts
            # collect then schedules as a separate reduce job. Planned
            # statically, the checkpoint stays lazy and the counts job
            # runs map+reduce as ONE job (measured ~0.4 s/insert on the
            # 600k-row bench ingest). The scope covers exactly the
            # checkpoint and the counts collect, and restores AQE even
            # when the collect raises — the tail sizes its own confs.
            with scoped_confs(
                self.spark,
                {} if stable_input else {"spark.sql.adaptive.enabled": "false"},
            ):
                tagged = (
                    tagged.persist()
                    if stable_input
                    else tagged.localCheckpoint(eager=False)
                )
                stats = tagged.groupBy("__pid").agg(
                    F.count("*").alias("cnt"),
                    F.min("__mid").alias("lo"),
                    F.max("__mid").alias("hi"),
                ).collect()
            return self._insert_tagged(tagged, schema, watermark, stats)
        finally:
            tagged.unpersist()

    # literal (Python-list) batches at or below this many rows insert
    # entirely on the driver: constraint checks in plain Python, rowids by
    # list position, one pyarrow-written file, footer-based registration —
    # ZERO Spark jobs unless an index needs a posting build or the unique
    # probe must scan a big table. The posting-driver-build bound's sibling.
    DRIVER_INSERT_ROWS = 20_000

    # DataFrame batches whose OPTIMIZER size estimate is at or below this
    # many bytes probe for driver-side ingest with one bounded take().
    # The estimate is plain non-CBO sizeInBytes — it never shrinks through
    # filters, so it only fires when the batch's SOURCE files are tiny
    # (dimension-table mutations); a bulk insert never pays the probe.
    # SPARK_GRAFT_DRIVER_INSERT_EST=0 disables (same switch family as
    # SPARK_GRAFT_CC_DRIVER_EDGES).
    DRIVER_INSERT_EST_BYTES = int(
        os.environ.get("SPARK_GRAFT_DRIVER_INSERT_EST", str(1 << 20)) or 0
    )

    def _take_micro_df(self, df: DataFrame) -> list | None:
        """Bounded driver collect of a DataFrame batch the optimizer's own
        statistics bound tiny; None when ineligible (estimate too big /
        non-atomic types / more actual rows than the driver-insert cap —
        the caller then keeps the distributed path, with one bounded
        take() wasted in the rare underestimate case)."""
        if self.DRIVER_INSERT_EST_BYTES <= 0:
            return None  # disabled: skip the probe entirely (no stats eval)
        if not all(
            self._driver_atomic_type(f.dataType)
            for f in self.manifest.schema.fields
        ):
            return None
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return None
        if est > self.DRIVER_INSERT_EST_BYTES:
            return None
        taken = df.take(self.DRIVER_INSERT_ROWS + 1)
        if len(taken) > self.DRIVER_INSERT_ROWS:
            return None
        return taken

    @staticmethod
    def _driver_atomic_type(dt: T.DataType) -> bool:
        """Types the driver-insert kernel handles: atomic, orderable (for
        the clustering sort) and with unambiguous Python↔Arrow value
        mapping. Session-tz timestamps qualify only on a UTC-clock host
        (collect() renders them through the OS zone — on UTC the naive →
        aware-UTC conversion is exact and fold-free); arrays/maps/structs
        stay on the Spark path."""
        if isinstance(dt, T.DecimalType):
            return True
        if isinstance(dt, T.TimestampNTZType):
            return True
        if isinstance(dt, T.TimestampType):
            import time

            return time.localtime().tm_gmtoff == 0
        return isinstance(
            dt,
            (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
                T.DateType, T.BinaryType,
            ),
        )

    @staticmethod
    def _driver_cell(dt: T.DataType, v):
        """Collected value → the Arrow value the Spark writer would have
        produced. Only session-tz timestamps need help: collect() returns
        a naive datetime in the OS zone (UTC per the type gate), which
        must become aware-UTC so Arrow stores the exact instant."""
        if v is not None and isinstance(dt, T.TimestampType):
            import datetime as _dt

            if v.tzinfo is None:
                return v.replace(tzinfo=_dt.timezone.utc)
        return v

    def _insert_rows_driver(
        self, data: list[tuple], schema: T.StructType
    ) -> int | None:
        """Driver-side ingest of a literal micro-batch; returns the row
        count, or None when ineligible (caller falls back to the
        distributed path — same results, more jobs).

        Layout parity with the Spark path's single-file micro-batch
        (:meth:`_cluster_batch` ``n_files == 1``): one parquet file,
        rows sorted by :meth:`_cluster_cols` (ascending, NULLs
        first — ``sortWithinPartitions`` semantics), dense rowids from
        the watermark, per-column footer stats for pruning. Registration
        and posting builds go through the shared epilogue
        (:meth:`_register_and_index`), so index maintenance is identical."""
        if len(data) > self.DRIVER_INSERT_ROWS:
            return None
        if not all(self._driver_atomic_type(f.dataType) for f in schema.fields):
            return None
        # constraint enforcement over the literal rows — same semantics
        # and error shapes as _enforce_constraints, zero jobs unless the
        # existing-key probe needs a distributed scan
        self._enforce_constraints_rows(data)
        watermark = self.manifest.rowid
        n = len(data)
        rows = [(watermark + i,) + tuple(r) for i, r in enumerate(data)]
        names = schema.fieldNames()
        sort_cols = self._cluster_cols()
        if sort_cols:
            idxs = [names.index(c) + 1 for c in sort_cols]
            try:
                rows.sort(key=lambda t: tuple((t[i] is not None, t[i]) for i in idxs))
            except TypeError:
                return None  # un-orderable value mix → distributed path
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(self._schema_with_rowid())
            dts = [f.dataType for f in schema.fields]
            table = pa.Table.from_pylist(
                [
                    dict(
                        zip(
                            [ROWID] + list(names),
                            (r[0], *(self._driver_cell(dt, v) for dt, v in zip(dts, r[1:]))),
                        )
                    )
                    for r in rows
                ],
                schema=arrow_schema,
            )
        except Exception:
            # a value pyarrow cannot coerce the way createDataFrame would
            # (nothing mutated yet) — let the Spark path decide
            return None
        batch_rel = os.path.join(
            "data", f"b{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )
        out_dir = self._abs(batch_rel)
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))
        self._register_and_index(batch_rel)
        self.manifest.rowid = watermark + n
        self._commit()
        return n

    def _enforce_constraints_rows(self, data: list[tuple]) -> None:
        """Pure-Python twin of :meth:`_enforce_constraints` for literal
        batches: not-null and batch-internal uniqueness never leave the
        driver; the against-table uniqueness probe reads small pruned
        tables driver-side (:meth:`_existing_key_driver`) and falls back
        to the distributed probe only when the table is big."""
        cons = self._constraints()
        if not cons:
            return
        names = self.colnames
        nn = [c for c, k in cons if k == "not_null" and c in names]
        if nn:
            bad = {}
            for c in nn:
                i = names.index(c)
                cnt = sum(1 for r in data if r[i] is None)
                if cnt:
                    bad[c] = cnt
            if bad:
                raise ValueError(f"not_null constraint violated: {bad}")
        for c, k in cons:
            if k != "unique" or c not in names:
                continue
            i = names.index(c)
            vals = [r[i] for r in data if r[i] is not None]
            seen: set = set()
            for v in vals:
                if v in seen:
                    raise ValueError(
                        f"unique constraint on {c!r} violated inside the batch "
                        f"(e.g. key {v!r})"
                    )
                seen.add(v)
            if self.manifest.files:
                keys = list(dict.fromkeys(vals))
                hit = self._existing_key_driver(c, keys)
                if hit is None:
                    # distributed probe, same shape as _enforce_constraints
                    found = self.find_many(c, keys).select(c).limit(1).collect()
                    if found:
                        raise ValueError(
                            f"unique constraint on {c!r} violated: key "
                            f"{found[0][c]!r} already exists"
                        )
                elif hit is not False:
                    raise ValueError(
                        f"unique constraint on {c!r} violated: key "
                        f"{hit!r} already exists"
                    )

    def _existing_key_driver(self, column: str, keys: list):
        """Zero-job membership probe: prune candidate files by footer
        stats (driver metadata), then read only those files' key column
        with pyarrow and test membership against live (non-tombstoned)
        rowids. Returns a colliding key, False for no collision, or None
        when ineligible (big candidate set / coercion-unsafe types) —
        the caller then uses the distributed probe."""
        import math

        if not keys:
            return False
        if self.manifest.tombstone_rows > self.CDF_DRIVER_READ_ROWS:
            return None
        if not all(self._probe_type_ok(column, k) for k in keys):
            return None
        if any(isinstance(k, float) and math.isnan(k) for k in keys):
            return None  # SQL NaN equality ≠ Python set membership
        files = self.manifest.files
        if len(keys) <= 1000:
            m = self._prune_mask_multi(column, keys)
            if m is not None:
                files = [f for f, keep in zip(files, m) if keep]
            else:
                files = [
                    f
                    for f in files
                    if not f.stats.get(column)
                    or any(self._key_in_range(f.stats[column], k) for k in keys)
                ]
        if sum(f.rows for f in files) > self.POSTING_DRIVER_BUILD_ROWS:
            return None
        tomb: set[int] = set()
        for rel in self.manifest.tombstones:
            d = self._abs(rel)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    tomb.update(
                        pq.read_table(os.path.join(d, fn), columns=[ROWID])
                        .column(ROWID)
                        .to_pylist()
                    )
        keyset = set(keys)
        for f in files:
            tbl = pq.read_table(self._abs(f.path), columns=[ROWID, column])
            for rid, v in zip(
                tbl.column(ROWID).to_pylist(), tbl.column(column).to_pylist()
            ):
                if v is not None and v in keyset and rid not in tomb:
                    return v
        return False

    def _insert_tagged_micro(
        self, df: DataFrame, schema: T.StructType, watermark: int
    ) -> int:
        """One-job append for caller-bounded micro batches: ``coalesce(1)``
        puts every row in partition 0, where ``monotonically_increasing_id``
        IS the dense 0-based position — so rowids need no counts pass, and
        the committed row count reads from the written file's parquet
        footer (``_parquet_rows``), not a count job. Layout matches
        ``_cluster_batch``'s single-file branch (in-file sort by
        :meth:`_cluster_cols`)."""
        with_id = df.coalesce(1).select(
            (F.lit(watermark) + F.monotonically_increasing_id()).alias(ROWID),
            *schema.fieldNames(),
        )
        sort_cols = self._cluster_cols()
        if sort_cols:
            with_id = with_id.sortWithinPartitions(*sort_cols)
        batch_rel = os.path.join(
            "data", f"b{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )
        with_id.write.parquet(self._abs(batch_rel))
        n = self._parquet_rows(batch_rel)
        if not n:
            import shutil

            shutil.rmtree(self._abs(batch_rel), ignore_errors=True)
            return 0
        self._register_and_index(batch_rel)
        self.manifest.rowid = watermark + n
        self._commit()
        return n

    # batches at or below this many rows compile their write + posting
    # build STATICALLY (AQE off, shuffle partitions derived from the
    # driver-known row count): under AQE every exchange of the rowid
    # window, the clustering repartition and the posting distinct/agg
    # materializes as its OWN Spark job — measured 18 jobs vs 9 for the
    # identical 600k-row indexed insert, same rows. Bulk loads above the
    # bound keep AQE (skew splits / coalescing earn their jobs there).
    STATIC_INSERT_ROWS = 10_000_000

    def _insert_tagged(
        self, tagged: DataFrame, schema: T.StructType, watermark: int, stats: list
    ) -> int:
        """Number and write a tagged batch from its counts pass: ``stats``
        holds one (__pid, cnt, lo, hi) row per non-empty partition."""
        if not stats:
            return 0
        counts = {r["__pid"]: r["cnt"] for r in stats}
        # monotonically_increasing_id puts the partition id in the upper
        # bits and a 0-based per-partition record counter in the lower 33
        # — when that layout holds (verified per partition from the SAME
        # counts pass: min == pid<<33, max == min+cnt-1, i.e. the local
        # counter is dense from 0), the rowid is pure per-row arithmetic
        # (watermark + offset[pid] + low bits) and the row_number window —
        # a full shuffle+sort of the batch — is unnecessary. Rowids are
        # identical by construction (pytest-pinned against the window
        # plan); any violation of the layout falls back to the window.
        contiguous = all(
            r["lo"] == (r["__pid"] << 33)
            and r["hi"] == (r["__pid"] << 33) + r["cnt"] - 1
            for r in stats
        )
        if os.environ.get("SPARK_GRAFT_ROWID_WINDOW", "0") == "1":
            contiguous = False  # test hook: force the window plan
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        n = acc
        # static compile of the tail (see STATIC_INSERT_ROWS): one shuffle
        # partition per ~50k rows (the _cluster_batch file sizing), capped
        # at the core count — the r12 ~250k divisor ran the 600k-row bench
        # ingest 3-wide through the clustering shuffle at any core count
        cores = self.spark.sparkContext.defaultParallelism
        static = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(max(1, min(256, cores, -(-n // 50_000)))),
        }
        with scoped_confs(self.spark, static if n <= self.STATIC_INSERT_ROWS else {}):
            return self._insert_tagged_tail(
                tagged, schema, watermark, offsets, n, contiguous
            )

    def _insert_tagged_tail(
        self,
        tagged: DataFrame,
        schema: T.StructType,
        watermark: int,
        offsets: dict,
        n: int,
        contiguous: bool = False,
    ) -> int:
        offs_df = self.spark.createDataFrame(
            [(pid, offsets[pid]) for pid in offsets], "__pid int, __off long"
        )
        if contiguous:
            # exchange-free rowids: the per-partition record counter IS
            # the dense local position (guard verified in _insert_tagged)
            local = F.col("__mid") - (F.col("__pid").cast("long") * F.lit(1 << 33))
            with_id = (
                tagged.join(F.broadcast(offs_df), "__pid")
                .withColumn(ROWID, F.lit(watermark) + F.col("__off") + local)
                .select(ROWID, *schema.fieldNames())
            )
        else:
            from pyspark.sql import Window as W

            w = W.partitionBy("__pid").orderBy("__mid")
            with_id = (
                tagged.join(F.broadcast(offs_df), "__pid")
                .withColumn(ROWID, F.lit(watermark) + F.col("__off") + F.row_number().over(w) - 1)
                .select(ROWID, *schema.fieldNames())
            )

        batch_rel = os.path.join("data", f"b{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        self._cluster_batch(with_id, n).write.parquet(self._abs(batch_rel))
        self._register_and_index(batch_rel)
        self.manifest.rowid = watermark + n
        self._commit()
        return n

    def _cluster_batch(self, with_id: DataFrame, n: int) -> DataFrame:
        """Partition a rowid-tagged batch for writing: size files, and honor
        any index's clustering (shared by ``insert`` and ``apply_changes``).
        """
        # file sizing: cap rows per file (manifest/small-files hygiene) but
        # never collapse write parallelism below what the batch supports —
        # coalesce propagates upstream, and a 1-task write serializes the
        # whole rowid window for mid-size batches
        cores = self.spark.sparkContext.defaultParallelism
        by_size = -(-n // self.ROWS_PER_FILE)
        by_par = min(cores, -(-n // 50_000))
        n_files = max(1, by_size, by_par)
        cols = self._cluster_cols()
        if n_files == 1:
            # single-file micro-batch: repartitionByRange's range SAMPLER
            # job buys nothing when everything lands in one file — a
            # coalesce(1) + in-file sort gives the identical layout
            # (per-file min/max stats, sorted row groups, every key in
            # exactly one file) for one job less. This is the streaming
            # micro-batch commit-floor path.
            out = with_id.coalesce(1)
            return out.sortWithinPartitions(*cols) if cols else out
        if cols:
            # honor the index's clustering at write time: disjoint key
            # ranges per file + sorted row groups → manifest min/max AND
            # parquet row-group pruning bite on fresh inserts, so a point
            # lookup prunes to ~1 file and the posting set shrinks to ~ndv
            # rows. This is the write amplification an index costs — one
            # extra shuffle per batch, the distributed analogue of the
            # reference's per-insert index maintenance (src/lib.rs:181-184)
            return with_id.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
        if n_files < 32:
            with_id = with_id.coalesce(n_files)
        return with_id

    def _cluster_cols(self) -> list[str]:
        """The one clustering key every write path sorts a batch by (and,
        across files, range-partitions it by): the lead btree column, else
        the first hash/composite index's member tuple (lead column first,
        which also tightens every member's min/max), else none. The Spark
        paths sort ascending with NULLs first; the driver kernels sort
        Python rows to the same order."""
        specs = self.manifest.indices.values()
        btree = [s.column for s in specs if s.kind == BTREE]
        if btree:
            return btree[:1]
        hashed = [s.member_columns for s in specs if s.kind in (HASH, COMPOSITE)]
        return list(hashed[0]) if hashed else []

    def _register_and_index(self, batch_rel: str) -> list["DataFile"]:
        """Register freshly-written batch files and build postings for every
        index — the shared epilogue of ``insert`` and ``apply_changes``."""
        new_files = self._register_files(batch_rel)
        specs = [s for s in self.manifest.indices.values()]
        if len([s for s in specs if s.kind != BLOOM]) > 1 and new_files:
            # multi-index: scan the fresh batch once for every posting build
            shared = self._read_files(new_files, with_meta=True).persist()
            try:
                for spec in specs:
                    self._append_postings(spec, new_files, shared_df=shared)
            finally:
                shared.unpersist()
        else:
            for spec in specs:
                self._append_postings(spec, new_files)
        return new_files

    CONSTRAINT_KINDS = ("not_null", "unique")

    @_rolls_back
    def add_constraint(self, column: int | str, kind: str = "not_null") -> None:
        """Declare a WRITE-TIME constraint (EXTENSION — the reference
        validates arity only, ``src/lib.rs:179``): every subsequent
        ``insert`` (and therefore ``merge``, whose append flows through
        insert AFTER its victims are tombstone-masked — so replacing a
        key never false-positives the uniqueness check) rejects the whole
        batch if violated; nothing is committed on rejection.

        Kinds: ``not_null`` (one aggregate over the batch, all not_null
        columns folded together); ``unique`` (SQL semantics — NULLs are
        exempt): batch-internal duplicates via one group-count; collision
        with existing rows via ``find_many`` for batches of ≤1024 distinct
        keys (a hash/bloom index on the column prunes the probed file set,
        like any equality probe) and a column-pruned full-scan semi-join
        for bulk-load-sized batches (where the scan is amortized).
        Constraints live in the manifest (replicate, survive reopen)."""
        if kind not in self.CONSTRAINT_KINDS:
            raise ValueError(f"unknown constraint kind {kind!r}")
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        cons = self._constraints()
        if (name, kind) not in cons:
            cons.append((name, kind))
            self.manifest.props["constraints"] = json.dumps(cons)
            self._commit()

    @_rolls_back
    def drop_constraint(self, column: int | str, kind: str) -> None:
        name = self.colnames[column] if isinstance(column, int) else column
        cons = self._constraints()
        if (name, kind) not in cons:
            raise ValueError(f"no {kind!r} constraint on {name!r}")
        cons.remove((name, kind))
        self.manifest.props["constraints"] = json.dumps(cons)
        self._commit()

    def _constraints(self) -> list:
        raw = self.manifest.props.get("constraints")
        return [tuple(c) for c in json.loads(raw)] if raw else []

    def _enforce_constraints(self, df: DataFrame) -> None:
        cons = self._constraints()
        if not cons:
            return
        nn = [c for c, k in cons if k == "not_null" and c in df.columns]
        if nn:
            row = df.agg(
                *[
                    F.sum(F.col(c).isNull().cast("long")).alias(c)
                    for c in nn
                ]
            ).collect()[0]
            bad = {c: int(row[c] or 0) for c in nn if row[c]}
            if bad:
                raise ValueError(f"not_null constraint violated: {bad}")
        for c, k in cons:
            if k != "unique" or c not in df.columns:
                continue
            keys = df.filter(F.col(c).isNotNull()).select(c)
            dup = (
                keys.groupBy(c)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"unique constraint on {c!r} violated inside the batch "
                    f"(e.g. key {dup[0][c]!r})"
                )
            if self.manifest.files:
                # typical upsert batches are small: collect up to 1+cap
                # distinct keys and probe through find_many, which prunes
                # the file set via any hash/bloom index on the column. A
                # bulk-load-sized batch (cap exceeded) falls back to the
                # column-pruned full scan — at that size the scan is
                # amortized over the batch anyway.
                cap = 1024
                head = [r[c] for r in keys.distinct().limit(cap + 1).collect()]
                if len(head) <= cap:
                    hit = self.find_many(c, head).select(c).limit(1).collect()
                else:
                    hit = (
                        self.find([])
                        .select(c)
                        .join(keys.distinct(), c, "left_semi")
                        .limit(1)
                        .collect()
                    )
                if hit:
                    raise ValueError(
                        f"unique constraint on {c!r} violated: key "
                        f"{hit[0][c]!r} already exists"
                    )

    @_rolls_back
    def merge(
        self,
        rows: DataFrame | Iterable[Sequence[Any]],
        on: int | str,
        stable_input: bool = False,
        extra_victim_keys: DataFrame | None = None,
        micro_batch: bool = False,
    ) -> tuple[int, int]:
        """Atomic upsert by key (EXTENSION — the reference is
        add/remove-only, ``src/lib.rs:25-26``): delete every existing row
        whose ``on`` column matches a key in the batch, then append the
        batch, in ONE manifest commit — readers see either the old table
        or the fully-merged one, never the deleted-but-not-yet-inserted
        middle state that a ``delete(); insert()`` sequence exposes.

        Mechanics: victims are staged as a merge-on-read tombstone (cost ∝
        victims; the key-membership scan is column-pruned to (rowid, key)),
        the staged tombstone list rides in the insert's own commit. If
        anything fails before that commit, the handle rolls back to its
        committed snapshot (:func:`_rolls_back`) and the orphan tombstone
        dir is left for ``vacuum``.
        The batch is appended as-is — duplicate keys WITHIN the batch are
        all inserted, like ``insert``. NULL keys follow SQL join
        semantics: a NULL-keyed batch row never matches an existing
        NULL-keyed row (the victims probe is an equi-join), so it plain-
        appends — deduplicate NULL keys upstream if they should replace.
        Returns (rows_inserted, rows_replaced).

        ``extra_victim_keys`` (r11): an additional single-column
        DataFrame of ``on``-keys to DELETE in the same commit (rows
        matching these keys are tombstoned whether or not the batch
        re-inserts them). This is the upsert+delete shape a CDC delta
        applies — folding both into the merge's one manifest flip keeps
        a refresh at one commit per store AND keeps the delete keys
        distributed (a DataFrame semi-join, never a driver-collected id
        list). Returned ``rows_replaced`` counts these victims too."""
        name = self.colnames[on] if isinstance(on, int) else on
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        if not isinstance(rows, DataFrame):
            data = [tuple(r) for r in rows]
            if not data:
                return (0, 0)
            rows = self.spark.createDataFrame(data, self.manifest.schema)
        keys = rows.select(F.col(name)).distinct()
        if extra_victim_keys is not None:
            keys = (
                keys.unionByName(
                    extra_victim_keys.select(
                        F.col(extra_victim_keys.columns[0]).alias(name)
                    )
                ).distinct()
            )
        n_staged = 0
        if self.manifest.files:
            # no broadcast hint: a typical upsert batch is small and AQE
            # broadcasts it on its own; a bulk-load-sized batch must be
            # free to shuffle instead of OOMing the driver
            victims = (
                self._read_files(self.manifest.files)
                .select(ROWID, name)
                .join(keys, name, "left_semi")
                .select(ROWID)
            )
            if self.manifest.live_rows <= self.POSTING_DRIVER_BUILD_ROWS:
                # micro-store merge (matview state, streaming dimension
                # upserts): victims ≤ live_rows ≤ the driver-build bound,
                # so the tombstone takes the single-file micro-batch
                # layout — one write task, one file, no 32-way fan-out
                # of a handful of rowids (r12, the _cluster_batch n=1
                # precedent applied to the merge's staging write)
                victims = victims.coalesce(1)
            victims_rel = os.path.join(
                "tomb", f"m{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
            )
            victims.write.parquet(self._abs(victims_rel))
            # staged-row count from the freshly-written parquet footers
            # (metadata-only, like _register_files) — the read-back
            # .count() this replaces cost one Spark job per merge, which
            # dominates micro-batch upserts (matview refresh, streaming
            # merge_on ingestion)
            n_staged = self._parquet_rows(victims_rel)
            if n_staged:
                # staged in memory only — the insert's commit makes both
                # the tombstone and the new data visible atomically
                self.manifest.tombstones.append(victims_rel)
                self.manifest.tombstone_rows += n_staged
                # the victim probe is column-pruned to (rowid, key) and
                # never materializes full rows, so merge victims are NOT
                # changelogged — mark the commit accordingly and let a
                # CDC window crossing it take the snapshot-diff fallback
                self.manifest.pending_cdf = None
            else:
                import shutil

                shutil.rmtree(self._abs(victims_rel), ignore_errors=True)
        inserted = self.insert(
            rows, stable_input=stable_input, micro_batch=micro_batch
        )
        return (inserted, n_staged)

    def _commit(self) -> None:
        """Commit the manifest and evict caches keyed to older versions —
        stale posting DataFrames are unpersisted, stale driver maps
        dropped (long-lived ingestion commits one version per micro-batch
        and would otherwise pin them forever)."""
        self.manifest.commit(self.path)
        v = self.manifest.version
        for key in [k for k in self._posting_cache if k[1] != v]:
            try:
                self._posting_cache[key].unpersist()
            except Exception:
                pass
            del self._posting_cache[key]
        for key in [k for k in self._posting_maps if k[1] != v]:
            del self._posting_maps[key]
        for key in [k for k in self._bloom_maps if k[1] != v]:
            del self._bloom_maps[key]
        for key in [k for k in self._bloom_fetched if k[1] != v]:
            del self._bloom_fetched[key]
        for key in [k for k in self._stats_np if k[1] != v]:
            del self._stats_np[key]

    def _tomb_rowid_range(self, rels: Sequence[str]) -> tuple[int, int]:
        """[min, max] rowid across the given tombstone staging dirs, from
        parquet FOOTER stats only (zero Spark jobs) — the driver-side
        prune key for the churn-bounded CDC delete tier. Missing stats
        widen to the full rowid space (prune nothing, never wrongly);
        no rows at all returns an empty range (prunes everything)."""
        lo: int | None = None
        hi: int | None = None
        for rel in rels:
            d = self._abs(rel)
            for name in os.listdir(d):
                if not name.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(d, name)).metadata
                for rg in range(meta.num_row_groups):
                    rgm = meta.row_group(rg)
                    for ci in range(rgm.num_columns):
                        col = rgm.column(ci)
                        if col.path_in_schema != ROWID:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return (0, 2**63 - 1)
                        lo = int(st.min) if lo is None else min(lo, int(st.min))
                        hi = int(st.max) if hi is None else max(hi, int(st.max))
        if lo is None or hi is None:
            return (0, -1)
        return (lo, hi)

    def _parquet_rows(self, rel_dir: str) -> int:
        """Row count of a freshly-written parquet dir from its footers —
        metadata-only (no Spark job), the `_register_files` convention.
        Replaces the read-back `.count()` that cost one job per write in
        every merge staging, deferred delete, and tombstone
        consolidation."""
        out_dir = self._abs(rel_dir)
        return sum(
            pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )

    def _register_files(self, batch_rel: str) -> list[DataFile]:
        """Scan freshly-written parquet footers (metadata-only, no Spark job)
        and register the files in the manifest."""
        out_dir = self._abs(batch_rel)
        new_files = []
        for name in sorted(os.listdir(out_dir)):
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.join(out_dir, name)
            meta = pq.ParquetFile(fpath).metadata
            if meta.num_rows == 0:
                continue
            # per-column min/max across row groups (footer metadata only).
            # a column's file stats are usable ONLY if every row group has
            # them — a group with missing/undecodable stats (e.g. values
            # past the writer's max_statistics_size) must widen the range
            # to unknown, never narrow it
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            nulls: dict[str, int] = {}
            incomplete: set[str] = set()
            no_nullcount: set[str] = set()
            for rg in range(meta.num_row_groups):
                rgm = meta.row_group(rg)
                for ci in range(rgm.num_columns):
                    col = rgm.column(ci)
                    cname = col.path_in_schema
                    st = col.statistics
                    lo = hi = None
                    if st is not None and st.has_min_max:
                        lo, hi = st.min, st.max
                        if isinstance(lo, bytes):
                            try:
                                lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                            except Exception:
                                lo = hi = None
                        if lo is not None and not isinstance(lo, (int, float, str)):
                            lo = hi = None
                    # non-null count (stats element #3, used by topk's
                    # threshold walk): usable only if EVERY row group
                    # reports one — a missing count must widen to unknown
                    if st is None or not st.has_null_count or st.null_count is None:
                        no_nullcount.add(cname)
                    else:
                        nulls[cname] = nulls.get(cname, 0) + int(st.null_count)
                    if lo is None:
                        incomplete.add(cname)
                        continue
                    mins[cname] = lo if cname not in mins else min(mins[cname], lo)
                    maxs[cname] = hi if cname not in maxs else max(maxs[cname], hi)
            stats = {}
            for c in mins:
                if c in incomplete:
                    continue
                stats[c] = [mins[c], maxs[c]]
                if c not in no_nullcount:
                    stats[c].append(int(meta.num_rows) - nulls.get(c, 0))
            rid = stats.pop(ROWID, [-1, -1])
            fid = self.manifest.next_file_id
            self.manifest.next_file_id += 1
            df_entry = DataFile(
                id=fid,
                path=os.path.join(batch_rel, name),
                rows=meta.num_rows,
                min_rowid=int(rid[0]),
                max_rowid=int(rid[1]),
                stats=stats,
            )
            self.manifest.files.append(df_entry)
            new_files.append(df_entry)
        return new_files

    # -- indices (src/lib.rs:195-205, src/idx.rs) ---------------------------

    @_rolls_back
    def index(self, column: int | str | Sequence[int | str], indexer: Any = "hash") -> None:
        """Create (or replace — ``src/lib.rs:204``) an index on ``column``.

        Backfills from all live rows (``src/lib.rs:199-202``); cheap when the
        store is empty, a full posting build when it is not (cost warning at
        ``src/lib.rs:193-194``).

        A tuple/list of ≥2 columns (or a ``CompositeIndex``) creates a
        COMPOSITE index: postings keyed by the full column tuple, served
        only when a find's conjunction const-eq-covers every member
        (see ``idx.CompositeIndex``). No reference analogue — its index
        map is strictly per-column (``src/lib.rs:59``).
        """
        from .idx import CompositeIndex, custom_indexer

        if isinstance(column, (tuple, list)):
            names = [self.colnames[c] if isinstance(c, int) else c for c in column]
            if len(names) < 2:
                raise ValueError("composite index needs >= 2 columns")
            for nm in names:
                if nm not in self.colnames:
                    raise ValueError(f"no such column {nm!r}")
            if len(set(names)) != len(names):
                raise ValueError("composite index columns must be distinct")
            kind = as_index_kind(indexer) if indexer != "hash" else COMPOSITE
            if kind != COMPOSITE:
                raise ValueError("multi-column indices support only the composite kind")
            name = ",".join(names)
            spec = IndexSpec(
                column=name, kind=COMPOSITE, custom=custom_indexer(indexer), columns=names
            )
            if self.manifest.files:
                self._append_postings(spec, self.manifest.files)
            self.manifest.indices[name] = spec  # silent replace, parity :204
            self._commit()
            return
        if isinstance(indexer, CompositeIndex):
            return self.index(indexer.columns, indexer)

        kind = as_index_kind(indexer)
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        params = dict(getattr(indexer, "params", None) or {})
        if kind == BLOOM:
            from .idx import BloomIndex

            params = {**BloomIndex().params, **params}
        if kind == TRIGRAM:
            if not isinstance(self.manifest.schema[name].dataType, T.StringType):
                raise ValueError(f"trigram index requires a string column, not {name!r}")
            params = {"n": 3, "ci": False, **params}
        spec = IndexSpec(
            column=name, kind=kind, custom=custom_indexer(indexer), params=params
        )
        if self.manifest.files:
            self._append_postings(spec, self.manifest.files)
        self.manifest.indices[name] = spec  # silent replace, parity :204
        self._commit()

    @_rolls_back
    def drop_index(self, column: int | str) -> None:
        """Remove the index on ``column`` (metadata commit; orphaned
        posting files are retired by ``vacuum``). The reference only
        creates/replaces (``src/lib.rs:195-205``) — this is the inverse a
        schema-evolving table needs before ``drop_column``."""
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.manifest.indices:
            raise ValueError(f"no index on column {name!r}")
        del self.manifest.indices[name]
        self._commit()

    def _append_postings(
        self, spec: IndexSpec, files: Sequence[DataFile], incremental: bool = True,
        shared_df: DataFrame | None = None,
    ) -> None:
        """Add posting rows (key, file_id) for ``files`` to ``spec``.

        The distributed analogue of posting-list maintenance
        (``src/idx.rs:48-51,114-117``): instead of rowids per key we track
        *files* per key — the lookup result is a superset and ``find``'s
        residual filter restores exactness (``src/lib.rs:89-91``).

        ``incremental=False`` (delete path) forces a full stats recompute:
        an HLL sketch cannot subtract removed keys.

        ``shared_df`` is a caller-persisted ``_read_files(files,
        with_meta=True)`` — a multi-index table passes it so the batch is
        scanned ONCE for all posting builds instead of once per index
        (write-amplification ∝ index count otherwise).
        """
        if not files:
            return
        if spec.kind == BLOOM:
            self._append_blooms(spec, files, incremental=incremental)
            return
        part_rel = os.path.join("idx", spec.column, f"p{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        df = shared_df if shared_df is not None else self._read_files(files, with_meta=True)
        mapping = self._file_id_map(files)
        if spec.columns:
            key_cols = [F.col(c).alias(f"k{i}") for i, c in enumerate(spec.columns)]
        else:
            key_cols = [F.col(spec.column).alias("key")]
        rkey = "k0" if spec.columns else "key"
        if spec.kind == TRIGRAM:
            # inverted n-gram postings: every distinct trigram of every
            # value, deduped per file — key space bounded by alphabet³,
            # not ndv. Values shorter than 3 chars contribute nothing
            # (no gram to look up; such probes are residual-only anyway).
            c = F.col(spec.column)
            if spec.params.get("ci"):
                c = F.lower(c)  # ci index: postings are lowered grams
            grams = F.when(
                c.isNull() | (F.length(c) < 3), F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length(c) - 2),
                    lambda i: c.substr(i, F.lit(3)),
                )
            )
            postings = (
                df.join(F.broadcast(mapping), "__file_path")
                .select(F.explode(F.array_distinct(grams)).alias("key"), "__file_id")
                .distinct()
            ).persist()
        else:
            postings = (
                df.join(F.broadcast(mapping), "__file_path")
                .select(*key_cols, "__file_id")
                .distinct()
            )
            # micro-batch fast path (r11 commit-floor): a posting set
            # bounded by the batch's row count fits on the driver, so the
            # stats agg and the posting ROWS come back in ONE fused job
            # (collect_list riding the same pass) and the part is written
            # driver-side with pyarrow — no second Spark job, no persist,
            # one file. Bulk loads (> cap) keep the distributed path.
            n_batch = sum(f.rows for f in files)
            # gate on the shard threshold too: a part that would range-
            # shard belongs to the distributed writer
            if incremental and n_batch <= min(
                self.POSTING_DRIVER_BUILD_ROWS, self.POSTING_SHARD_ROWS
            ):
                self._append_postings_driver(spec, postings, part_rel, rkey)
                return
            if incremental and n_batch <= self.POSTING_SHARD_ROWS:
                # posting rows ≤ batch rows ≤ one shard, so no count is
                # needed for the shard decision: the stats agg (count/min/
                # max/HLL) rides the posting WRITE itself via observe() —
                # one job instead of a fused-agg job plus a write job, and
                # no persist. Sorting unconditionally is safe (row order
                # inside a posting part is semantically irrelevant) and
                # keeps tight per-file footer ranges when stats exist.
                from pyspark.sql import Observation

                obs = Observation()
                out = postings.observe(
                    obs,
                    F.min(rkey).alias("__lo"),
                    F.max(rkey).alias("__hi"),
                    self._sketch_agg(spec),
                ).sortWithinPartitions(rkey)
                out.write.parquet(self._abs(part_rel))
                st = obs.get
                if self._stats_ok(st["__lo"]) and self._stats_ok(st["__hi"]):
                    spec.part_stats[part_rel] = [
                        self._stats_val(st["__lo"]), self._stats_val(st["__hi"])
                    ]
                spec.parts.append(part_rel)
                self._refresh_index_stats(
                    spec,
                    new_parts=[part_rel],
                    new_sketch=bytes(st["__sk"]) if st["__sk"] is not None else None,
                )
                return
            postings = postings.persist()
        try:
            # ONE fused agg over the cached batch: posting count + range-key
            # min/max (part-level pruning stats) + the HLL key sketch the
            # incremental ndv merge needs — replaces the separate
            # part-re-read the stats refresh used to do, so the insert path
            # runs the same number of jobs as before sharding existed.
            st = postings.agg(
                F.count(F.lit(1)).alias("__n"),
                F.min(rkey).alias("__lo"),
                F.max(rkey).alias("__hi"),
                self._sketch_agg(spec),
            ).collect()[0]
            n_post = int(st["__n"] or 0)
            # range-shard the part so every output file covers a disjoint
            # key range: a point probe's pushed-down key predicate then
            # reads ~one shard's row groups, keeping probe IO sublinear in
            # posting size however large the part grows
            n_shards = min(64, max(1, n_post // self.POSTING_SHARD_ROWS + 1))
            out = postings
            if self._stats_ok(st["__lo"]) and self._stats_ok(st["__hi"]):
                if n_shards > 1:
                    out = postings.repartitionByRange(n_shards, rkey)
                out = out.sortWithinPartitions(rkey)  # tight per-file footer ranges
                spec.part_stats[part_rel] = [
                    self._stats_val(st["__lo"]), self._stats_val(st["__hi"])
                ]
            elif spec.kind == BTREE:
                out = postings.sortWithinPartitions("key")
            out.write.parquet(self._abs(part_rel))
            spec.parts.append(part_rel)
            self._refresh_index_stats(
                spec,
                new_parts=[part_rel] if incremental else None,
                new_sketch=bytes(st["__sk"]) if (incremental and st["__sk"] is not None) else None,
            )
        finally:
            postings.unpersist()

    # posting parts are range-sharded into files of ~this many rows so a
    # pushed-down point probe reads one shard, not the whole part
    POSTING_SHARD_ROWS = 1_000_000

    # batches at or below this many rows build their posting part on the
    # DRIVER: the posting set is bounded by the batch row count, so the
    # stats agg + collect_list fuse into one Spark job and pyarrow writes
    # the (sorted, single-file) part with no second job — the streaming /
    # matview micro-commit floor. Bulk loads keep the distributed path.
    POSTING_DRIVER_BUILD_ROWS = 20_000

    # introspection: True when the last changes()/diff() on this instance
    # served its delete tier from the change-data-feed changelog, False
    # when it fell back to snapshot diffing, None before any CDC read
    # (the last_refresh_scanned_base convention)
    last_changes_used_cdf: bool | None = None

    # victim sets at or below this many rows derive their tombstone /
    # per-file attribution from a DRIVER-SIDE pyarrow read of the tiny
    # changelog (zero Spark jobs) instead of a Spark job — the posting
    # driver-build bound's sibling, sized so the driver holds at most a
    # couple hundred thousand (rowid, path) values
    CDF_DRIVER_READ_ROWS = 200_000

    def _append_postings_driver(
        self, spec: IndexSpec, postings: DataFrame, part_rel: str, rkey: str
    ) -> None:
        """One-job posting build for micro-batches: fused count/min/max/
        HLL-sketch/collect_list agg, driver-side sort by the range key
        (tight footer ranges, like the distributed path's
        sortWithinPartitions), pyarrow single-file write in the exact
        arrow schema of the distributed writer's output."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cols = postings.columns
        st = postings.agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(rkey).alias("__lo"),
            F.max(rkey).alias("__hi"),
            self._sketch_agg(spec),
            F.collect_list(F.struct(*cols)).alias("__rows"),
        ).collect()[0]
        n_post = int(st["__n"] or 0)
        if not n_post:
            return
        rows = sorted(
            (r.asDict() for r in st["__rows"]),
            key=lambda d: (d[rkey] is None, d[rkey]),
        )
        out_dir = self._abs(part_rel)
        os.makedirs(out_dir, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(postings.schema))
        pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))
        if self._stats_ok(st["__lo"]) and self._stats_ok(st["__hi"]):
            spec.part_stats[part_rel] = [
                self._stats_val(st["__lo"]), self._stats_val(st["__hi"])
            ]
        spec.parts.append(part_rel)
        self._refresh_index_stats(
            spec,
            new_parts=[part_rel],
            new_sketch=bytes(st["__sk"]) if st["__sk"] is not None else None,
        )

    @staticmethod
    def _stats_ok(v) -> bool:
        """Part-level pruning stats are recorded only for the primitive
        orderable types whose Python comparisons agree with SQL ordering
        (the DataFile.stats convention) — numbers and strings."""
        return isinstance(v, (int, float, str)) and not isinstance(v, bool)

    @staticmethod
    def _stats_val(v):
        return v if isinstance(v, (int, str)) else float(v)

    def _append_blooms(
        self, spec: IndexSpec, files: Sequence[DataFile], incremental: bool = True
    ) -> None:
        """Build one bloom bitset per data file in ``files`` and append them
        as an index part with rows ``(__file_id, bloom)``.

        Fully distributed: k bit positions per row (JVM-side md5 expr),
        distinct per file, packed to a binary bitset by a tiny UDF that runs
        once per FILE (not per row) — the only rows that ever cross into
        Python are #files aggregated position arrays. Nothing is collected
        on the driver here; probes later read the (file, bitset) part, which
        is #live-files rows."""
        m_bits = int(spec.params["m_bits"])
        k = int(spec.params["k"])
        part_rel = os.path.join(
            "idx", spec.column, f"b{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )
        df = self._read_files(files, with_meta=True)
        mapping = self._file_id_map(files)
        positions = (
            df.join(F.broadcast(mapping), "__file_path")
            .filter(F.col(spec.column).isNotNull())
            .select(
                "__file_id",
                F.explode(_bloom_positions_expr(spec.column, m_bits, k)).alias("pos"),
            )
            .distinct()
        )

        def _pack(pos_list):
            bits = bytearray(m_bits // 8)
            for p in pos_list:
                bits[p >> 3] |= 1 << (p & 7)
            return bytes(bits)

        pack = F.udf(_pack, T.BinaryType())
        (
            positions.groupBy("__file_id")
            .agg(F.collect_list("pos").alias("pos"))
            .select("__file_id", pack("pos").alias("bloom"))
            .write.parquet(self._abs(part_rel))
        )
        spec.parts.append(part_rel)
        self._refresh_bloom_stats(spec, files if incremental else None)

    # keys are sketched as strings (injective per type) because HLL sketch
    # aggregation supports int/long/string/binary but not double
    @staticmethod
    def _sketch_agg(spec: IndexSpec | None = None):
        if spec is not None and spec.columns:
            # composite: sketch the TUPLE — ndv of the combined key is the
            # whole point of the index's cost-model advantage
            # Injective tuple encoding: concat_ws SKIPS null members, which
            # would collapse ('a', NULL), (NULL, 'a') and ('a',) into one
            # sketch key and underestimate tuple ndv (a cost-model input).
            # Hash each member to a fixed-width token (null → a marker no
            # md5 can produce) before joining, so distinct tuples always
            # yield distinct keys.
            key = F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.md5(F.col(f"k{i}").cast("string")), F.lit("<null>"))
                    for i in range(len(spec.columns))
                ],
            )
            return F.hll_sketch_agg(key).alias("__sk")
        return F.hll_sketch_agg(F.col("key").cast("string")).alias("__sk")

    def _posting_schema(self, spec: IndexSpec) -> T.StructType:
        """Schema of one posting part: (key, __file_id) for single-column
        kinds, (k0..kn, __file_id) typed per member for COMPOSITE."""
        if spec.columns:
            fields = [
                T.StructField(f"k{i}", self.manifest.schema[c].dataType, True)
                for i, c in enumerate(spec.columns)
            ]
        else:
            fields = [T.StructField("key", self.manifest.schema[spec.column].dataType, True)]
        return T.StructType(fields + [T.StructField("__file_id", T.IntegerType(), True)])

    def _refresh_index_stats(
        self,
        spec: IndexSpec,
        new_parts: Sequence[str] | None = None,
        new_sketch: bytes | None = None,
    ) -> None:
        """rows/ndv for the cost model (``src/idx.rs:71-78``): rows = live
        table rows; ndv from a mergeable HLL sketch kept in the manifest.

        With ``new_parts`` and an existing sketch (the insert path), the
        new keys are sketched alone and union-merged — commit cost is
        O(new batch), not O(all postings); ``new_sketch`` (computed by the
        posting build's own fused agg) skips even that part re-read.
        Otherwise (index backfill, deletes) the sketch is rebuilt from the
        live postings."""
        import base64

        if spec.kind == BLOOM:  # bloom keeps no key postings — sketch the data
            self._refresh_bloom_stats(spec, None)
            return
        spec.rows = self.manifest.total_rows
        if new_parts and spec.sketch:
            if new_sketch is not None:
                new_sk = new_sketch
            else:
                part_df = self.spark.read.schema(self._posting_schema(spec)).parquet(
                    *[self._abs(p) for p in new_parts]
                )
                new_sk = part_df.agg(self._sketch_agg(spec)).collect()[0]["__sk"]
            if new_sk is None:
                return
            merged_row = (
                self.spark.createDataFrame(
                    [(base64.b64decode(spec.sketch),), (bytes(new_sk),)], "__sk binary"
                )
                .agg(F.hll_union_agg("__sk").alias("__sk"))
                .select(
                    F.hll_sketch_estimate("__sk").alias("ndv"), F.col("__sk")
                )
                .collect()[0]
            )
            spec.ndv = int(merged_row["ndv"])
            spec.sketch = base64.b64encode(bytes(merged_row["__sk"])).decode()
            return
        post = self._read_postings(spec)
        if post is None:
            spec.ndv = 0
            spec.sketch = None
            return
        row = (
            post.agg(self._sketch_agg(spec))
            .select(
                F.when(
                    F.col("__sk").isNotNull(), F.hll_sketch_estimate("__sk")
                ).alias("ndv"),
                F.col("__sk"),
            )
            .collect()[0]
        )
        if row["__sk"] is None:
            spec.ndv = 0
            spec.sketch = None
        else:
            spec.ndv = int(row["ndv"])
            spec.sketch = base64.b64encode(bytes(row["__sk"])).decode()

    def _refresh_bloom_stats(self, spec: IndexSpec, new_files: Sequence[DataFile] | None) -> None:
        """rows/ndv for the cost model, bloom flavor: no posting rows exist,
        so the HLL key sketch comes from the DATA files — the new batch
        alone when ``new_files`` is given and a prior sketch can be merged
        (insert path, O(batch)), else all live files (backfill/deletes)."""
        import base64

        spec.rows = self.manifest.total_rows
        if new_files is not None and spec.sketch:
            src = self._read_files(new_files)
        elif self.manifest.files:
            src = self._read_files(self.manifest.files)
            spec.sketch = None  # full rebuild — don't merge into stale state
        else:
            spec.ndv = 0
            spec.sketch = None
            return
        row = (
            src.select(F.col(spec.column).alias("key"))
            .agg(self._sketch_agg())
            .collect()[0]
        )
        if row["__sk"] is None:
            if spec.sketch is None:
                spec.ndv = 0
            return
        new_sk = bytes(row["__sk"])
        if spec.sketch:
            merged_row = (
                self.spark.createDataFrame(
                    [(base64.b64decode(spec.sketch),), (new_sk,)], "__sk binary"
                )
                .agg(F.hll_union_agg("__sk").alias("__sk"))
                .select(F.hll_sketch_estimate("__sk").alias("ndv"), F.col("__sk"))
                .collect()[0]
            )
            spec.ndv = int(merged_row["ndv"])
            spec.sketch = base64.b64encode(bytes(merged_row["__sk"])).decode()
        else:
            est = (
                self.spark.createDataFrame([(new_sk,)], "__sk binary")
                .select(F.hll_sketch_estimate("__sk").alias("ndv"))
                .collect()[0]["ndv"]
            )
            spec.ndv = int(est)
            spec.sketch = base64.b64encode(new_sk).decode()

    def _read_postings(self, spec: IndexSpec) -> DataFrame | None:
        if not spec.parts:
            return None
        cache_key = (spec.column, self.manifest.version, tuple(spec.parts))
        cached = self._posting_cache.get(cache_key)
        if cached is not None:
            return cached
        live = {f.id for f in self.manifest.files}
        df = self.spark.read.schema(self._posting_schema(spec)).parquet(
            *[self._abs(p) for p in spec.parts]
        )
        if live:
            ids = self.spark.createDataFrame([(i,) for i in sorted(live)], "__file_id int")
            df = df.join(F.broadcast(ids), "__file_id", "left_semi")
        else:
            df = df.limit(0)
        df = df.cache()  # postings are tiny relative to data; lookups are hot
        self._posting_cache[cache_key] = df
        return df

    def _parts_for_probe(self, spec: IndexSpec, point) -> list[str]:
        """Posting parts that may contain range-key value ``point`` —
        driver-side pruning on the per-part [min, max] recorded at part
        write (zero Spark jobs; the index-layer analogue of the manifest's
        DataFile.stats pruning). Parts without stats, and incomparable
        probe types, stay in — conservative superset contract."""
        keep = []
        for p in spec.parts:
            st = spec.part_stats.get(p)
            if st is None:
                keep.append(p)
                continue
            try:
                if st[0] <= point <= st[1]:
                    keep.append(p)
            except TypeError:
                keep.append(p)
        return keep

    def _probe_postings(self, spec: IndexSpec, point) -> DataFrame | None:
        """Point-probe scan over the posting parts: part-level pruning via
        ``_parts_for_probe`` first, then a FRESH (uncached) parquet read so
        the caller's key predicate pushes down to the parquet scan — parts
        are range-sharded at write, so the pushed filter skips every shard
        whose footer range excludes the key. Probe IO is therefore ~one
        shard of one part however large the posting total; the whole-set
        cached read (``_read_postings``) stays for small/hot indexes and
        full rebuilds."""
        if not spec.parts:
            return None
        parts = self._parts_for_probe(spec, point)
        if not parts:
            return self._read_postings(spec).limit(0)
        if len(parts) == len(spec.parts):
            # no pruning possible (legacy stats or odd probe type): the
            # cached whole-set read amortizes better across probes
            return self._read_postings(spec)
        live = {f.id for f in self.manifest.files}
        df = self.spark.read.schema(self._posting_schema(spec)).parquet(
            *[self._abs(p) for p in parts]
        )
        if not live:
            return df.limit(0)
        ids = self.spark.createDataFrame([(i,) for i in sorted(live)], "__file_id int")
        return df.join(F.broadcast(ids), "__file_id", "left_semi")

    # -- find (src/lib.rs:130-137) ------------------------------------------

    @staticmethod
    def _file_may_match(f: DataFile, cond: Condition, name: str) -> bool:
        """Driver-side min/max check: can this file contain rows matching
        ``cond``? Conservative (True on unknown) — superset contract."""
        st = f.stats.get(name)
        if not st:
            return True
        lo, hi = st[0], st[1]
        cmp = cond.cmp
        if cmp.is_const_eq:
            v = cmp.value.payload
            try:
                return lo <= v <= hi
            except TypeError:
                return True
        if cmp.op == "between":
            from .cmp import Bound

            try:
                b = cmp.lower
                if b and b.kind == Bound.INCLUDED and hi < b.value:
                    return False
                if b and b.kind == Bound.EXCLUDED and hi <= b.value:
                    return False
                b = cmp.upper
                if b and b.kind == Bound.INCLUDED and lo > b.value:
                    return False
                if b and b.kind == Bound.EXCLUDED and lo >= b.value:
                    return False
            except TypeError:
                return True
        return True

    _STATS_SAFE_ABS = float(2**52)  # beyond this, float64 can't hold ints exactly

    def _stats_arrays(self, name: str):
        """Columnar (has, los, his, kind) numpy views of the per-file
        min/max stats for ``name``, cached per manifest version — the
        SCALE.md graduation of the O(files) pruning loop: the per-query
        cost becomes a handful of vectorized comparisons instead of a
        Python loop over every file. Returns None (cached) when the
        column's stats can't be vectorized safely: mixed/boolean/exotic
        types, or numeric magnitudes past 2^52 where float64 rounding
        could wrongly EXCLUDE a file (pruning must stay a superset)."""
        import numpy as np

        # key includes next_file_id and len(files), not just the version:
        # a transaction in flight (insert/merge/CoW delete) mutates the
        # file list BEFORE the commit bumps the version, and a stale
        # array misaligned with the list would prune the wrong files.
        # Every registration bumps next_file_id and every pure removal
        # changes len, so the pair detects any mid-transaction change.
        key = (
            name,
            self.manifest.version,
            self.manifest.next_file_id,
            len(self.manifest.files),
        )
        cached = self._stats_np.get(key, "MISS")
        if cached != "MISS":
            return cached
        files = self.manifest.files
        n = len(files)
        has = np.zeros(n, dtype=bool)
        raw_lo: list = [None] * n
        raw_hi: list = [None] * n
        kind = None
        ok = True
        for i, f in enumerate(files):
            st = f.stats.get(name)
            if not st or st[0] is None or st[1] is None:
                continue
            lo, hi = st[0], st[1]
            k = None
            for v in (lo, hi):
                if isinstance(v, bool) or not isinstance(v, (int, float, str)):
                    ok = False
                    break
                vk = "str" if isinstance(v, str) else "num"
                if k is None:
                    k = vk
                elif vk != k:
                    ok = False
                    break
                if vk == "num" and abs(v) > self._STATS_SAFE_ABS:
                    ok = False
                    break
            if not ok:
                break
            if kind is None:
                kind = k
            elif k != kind:
                ok = False
                break
            has[i] = True
            raw_lo[i] = lo
            raw_hi[i] = hi
        if not ok or kind is None:
            res = None
        elif kind == "num":
            los = np.array([v if v is not None else np.nan for v in raw_lo], dtype=np.float64)
            his = np.array([v if v is not None else np.nan for v in raw_hi], dtype=np.float64)
            res = (has, los, his, "num")
        else:
            los = np.array(raw_lo, dtype=object)
            his = np.array(raw_hi, dtype=object)
            res = (has, los, his, "str")
        self._stats_np[key] = res
        return res

    def _prune_mask(self, cond: Condition, name: str):
        """Vectorized may-match mask over ``manifest.files`` for one
        condition, or None when the (column, probe) pair can't be
        vectorized safely (caller falls back to `_file_may_match` per
        file). Semantics mirror `_file_may_match` exactly: conservative
        superset — files without stats always stay; NaN comparisons are
        False, which the ``~has`` union absorbs."""
        import numpy as np

        arr = self._stats_arrays(name)
        if arr is None:
            return None
        has, los, his, kind = arr
        cmp = cond.cmp

        def _typed(v) -> bool:
            if kind == "str":
                return isinstance(v, str)
            return (
                isinstance(v, (int, float))
                and not isinstance(v, bool)
                and abs(v) <= self._STATS_SAFE_ABS
            )

        try:
            if cmp.is_const_eq:
                v = cmp.value.payload
                if not _typed(v):
                    return None
                return (~has) | ((los <= v) & (his >= v))
            if cmp.op == "between":
                from .cmp import Bound

                for b in (cmp.lower, cmp.upper):
                    if b is not None and not _typed(b.value):
                        return None
                viol = np.zeros(len(has), dtype=bool)
                b = cmp.lower
                if b is not None:
                    viol |= (his < b.value) if b.kind == Bound.INCLUDED else (his <= b.value)
                b = cmp.upper
                if b is not None:
                    viol |= (los > b.value) if b.kind == Bound.INCLUDED else (los >= b.value)
                return (~has) | (has & ~viol)
        except TypeError:
            return None
        return np.ones(len(has), dtype=bool)  # op this layer can't prune on

    def _prune_mask_multi(self, name: str, keys: Sequence[Any]):
        """Vectorized multi-key may-match mask over ``manifest.files`` —
        the batched form of `_prune_mask` for find_many: one
        files × keys broadcast against the cached stat arrays instead of
        an interpreted double loop. None = caller falls back."""
        import numpy as np

        arr = self._stats_arrays(name)
        if arr is None or not keys:
            return None
        has, los, his, kind = arr
        if kind == "num":
            if not all(
                isinstance(k, (int, float))
                and not isinstance(k, bool)
                and abs(k) <= self._STATS_SAFE_ABS
                for k in keys
            ):
                return None
            ks = np.asarray(list(keys), dtype=np.float64)
        else:
            if not all(isinstance(k, str) for k in keys):
                return None
            ks = np.array(list(keys), dtype=object)
        try:
            inside = (los[:, None] <= ks[None, :]) & (his[:, None] >= ks[None, :])
            return (~has) | inside.any(axis=1)
        except TypeError:
            return None

    def _prune_files(self, conds: Sequence[Condition]) -> tuple[AccessPath, list[DataFile]]:
        """Two pruning layers before Catalyst (both yield supersets; the
        residual filter in find() restores exactness, src/lib.rs:89-91):

        1. manifest column stats — zero Spark jobs, applied for every
           const/range cond on any column with footer min/max;
        2. posting-index lookup — one small Spark job, only when the cost
           model says it can actually narrow things: enough candidate files
           left, and keys selective enough that most files miss
           (ndv ≫ file count; the reference's estimate() idea applied at
           file granularity).
        """
        path = choose_access_path(conds, self.manifest.indices, self.colnames)
        eligible = [
            c
            for c in conds
            if not (c.cmp.op == "eq" and (c.cmp.value is None or c.cmp.value.is_column))
        ]
        from .manifest import PartedFileList

        pf = self.manifest.files
        if isinstance(pf, PartedFileList) and not pf.fully_loaded and eligible:
            # partitioned-manifest fast path: prune at PART granularity
            # first — each part stub is a synthetic DataFile carrying the
            # part's aggregated column stats, so the same conservative
            # _file_may_match logic applies — then open ONLY surviving
            # parts and run the per-file check over that bounded subset.
            # The full file list is never materialized: a selective probe
            # against a 100k-file table reads ~one part.
            cand: list[DataFile] = []
            for k, stub in enumerate(pf.part_stubs):
                if all(
                    self._file_may_match(stub, c, c.resolve(self.colnames))
                    for c in eligible
                ):
                    cand.extend(pf.part_files(k))
            cand.extend(pf.tail)
            files = [
                f
                for f in cand
                if all(
                    self._file_may_match(f, c, c.resolve(self.colnames))
                    for c in eligible
                )
            ]
        else:
            mask = None  # None = all manifest files still candidates
            for cond in eligible:
                name = cond.resolve(self.colnames)
                m = self._prune_mask(cond, name)
                if m is None:
                    # vectorization not safe for this (column, probe) pair —
                    # per-file Python check over the surviving candidates only
                    import numpy as np

                    if mask is None:
                        mask = np.ones(len(self.manifest.files), dtype=bool)
                    for i, f in enumerate(self.manifest.files):
                        if mask[i] and not self._file_may_match(f, cond, name):
                            mask[i] = False
                else:
                    mask = m if mask is None else (mask & m)
                if mask is not None and not mask.any():
                    return path, []
            if mask is None:
                files = self.manifest.files
            else:
                files = [f for f, keep in zip(self.manifest.files, mask) if keep]
        if not files:
            return path, list(files)
        if path.index is not None and files and path.index.kind == BLOOM:
            # zero-job path: bitsets live in a driver map (one tiny cached
            # read); a missing bitset or non-portable probe type keeps the
            # file — conservative superset, as always
            if path.cond.cmp.is_const_eq and self._bloom_probe_ok(
                path.index.column, path.cond.cmp.value.payload
            ):
                bmap = self._bloom_bitsets(path.index, [f.id for f in files])
                if bmap:
                    pos = _bloom_positions_py(
                        path.cond.cmp.value.payload,
                        int(path.index.params["m_bits"]),
                        int(path.index.params["k"]),
                    )
                    files = [
                        f
                        for f in files
                        if f.id not in bmap or self._bloom_hit(bmap[f.id], pos)
                    ]
            return path, files
        if path.index is not None and files and path.index.kind == TRIGRAM:
            # substring lookup: a file can hold a match only if its posting
            # set holds EVERY trigram of the needle — intersect the grams'
            # file sets (driver map when small enough, else one filter +
            # count-distinct job over the cached postings). The residual
            # `contains` re-check restores exactness, as always.
            needle = path.cond.cmp.value.payload
            if path.index.params.get("ci"):
                needle = needle.lower()  # lowered postings ⇒ lowered probe
            grams = sorted({needle[i : i + 3] for i in range(len(needle) - 2)})
            if grams and len(files) > 1:
                hit_ids = None
                if path.index.rows <= self.POSTING_MAP_MAX:
                    pmap = self._posting_map(path.index)
                    if pmap is not None:
                        hit_ids = set.intersection(
                            *[pmap.get(g, set()) for g in grams]
                        )
                if hit_ids is None:
                    post = self._read_postings(path.index)
                    if post is not None:
                        hit_ids = {
                            r["__file_id"]
                            for r in post.filter(F.col("key").isin(grams))
                            .groupBy("__file_id")
                            .agg(F.count_distinct("key").alias("__ng"))
                            .filter(F.col("__ng") == len(grams))
                            .collect()
                        }
                if hit_ids is not None:
                    files = [f for f in files if f.id in hit_ids]
            return path, files
        if path.index is not None and files and path.conds:
            # composite lookup: the conjunction const-eq-covers every member
            # column (guaranteed by choose_access_path). Probe the tuple
            # postings — driver map when small enough and every member
            # probe's Python equality agrees with SQL coercion, else one
            # small Spark job filtering all key columns.
            worth_it = len(files) > 4 and path.index.ndv > 2 * len(self.manifest.files)
            if worth_it:
                probes = [c.cmp.value.payload for c in path.conds]
                hit_ids = None
                if path.index.rows <= self.POSTING_MAP_MAX and all(
                    self._probe_type_ok(col, pv)
                    for col, pv in zip(path.index.columns, probes)
                ):
                    pmap = self._posting_map(path.index)
                    if pmap is not None:
                        hit_ids = pmap.get(tuple(probes), set())
                if hit_ids is None:
                    post = self._probe_postings(
                        path.index, path.conds[0].cmp.value.payload
                    )
                    if post is not None:
                        pred = None
                        for i, cond in enumerate(path.conds):
                            c = Condition(f"k{i}", cond.cmp).to_column(
                                [f"k{j}" for j in range(len(path.conds))]
                            )
                            pred = c if pred is None else (pred & c)
                        hit_ids = {
                            r["__file_id"]
                            for r in post.filter(pred)
                            .select("__file_id")
                            .distinct()
                            .collect()
                        }
                if hit_ids is not None:
                    files = [f for f in files if f.id in hit_ids]
            return path, files
        if path.index is not None and files:
            worth_it = len(files) > 4 and path.index.ndv > 2 * len(self.manifest.files)
            if path.index.kind == BTREE and path.cond.cmp.op == "between":
                # range postings prune only via key ranges — the stats layer
                # already did that work with zero jobs
                worth_it = False
            if worth_it:
                hit_ids = None
                if (
                    path.cond.cmp.is_const_eq
                    and path.index.rows <= self.POSTING_MAP_MAX
                    and self._probe_type_ok(path.index.column, path.cond.cmp.value.payload)
                ):
                    pmap = self._posting_map(path.index)
                    if pmap is not None:
                        hit_ids = pmap.get(path.cond.cmp.value.payload, set())
                if hit_ids is None:
                    if path.cond.cmp.is_const_eq:
                        post = self._probe_postings(
                            path.index, path.cond.cmp.value.payload
                        )
                    else:
                        post = self._read_postings(path.index)
                    if post is not None:
                        key_cond = Condition("key", path.cond.cmp)
                        hit_ids = {
                            r["__file_id"]
                            for r in post.filter(key_cond.to_column(["key"]))
                            .select("__file_id")
                            .distinct()
                            .collect()
                        }
                if hit_ids is not None:
                    files = [f for f in files if f.id in hit_ids]
        return path, files

    def _probe_type_ok(self, column: str, probe) -> bool:
        """The driver-side posting map compares with Python equality, but
        the Spark residual filter applies SQL type coercion (``5 = '5'``
        is true there). Only take the map fast path when Python equality
        agrees with SQL coercion for this (column type, probe) pair —
        otherwise fall back to the posting-DataFrame path, which filters
        inside Spark with identical coercion."""
        dt = self.manifest.schema[column].dataType
        if isinstance(dt, (T.StringType,)):
            return isinstance(probe, str)
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
        )
        if isinstance(dt, numeric):
            return isinstance(probe, (int, float)) and not isinstance(probe, bool)
        if isinstance(dt, T.BooleanType):
            return isinstance(probe, bool)
        return False  # timestamps/dates/binary: always use the Spark path

    def _bloom_probe_ok(self, column: str, probe) -> bool:
        """Driver-side bloom probing hashes ``str(probe)`` and must agree
        with the write-time Spark ``cast(col as string)``. That holds for
        string columns with str probes and integral columns with int probes
        (both render identically); floats/decimals/timestamps render
        differently (e.g. scientific notation) — skip bloom pruning there
        and stay conservative."""
        dt = self.manifest.schema[column].dataType
        if isinstance(dt, T.StringType):
            return isinstance(probe, str)
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if isinstance(dt, integral):
            return isinstance(probe, int) and not isinstance(probe, bool)
        return False

    # below this many live files the whole bloom map loads eagerly (one
    # read, zero jobs on every later probe); above it, probes fetch ONLY
    # their candidates' bitsets — at 1M files the full map is ~16 GB,
    # per-candidate loading is the difference between usable and not
    BLOOM_EAGER_MAX = 4096

    def _bloom_bitsets(self, spec: IndexSpec, candidate_ids) -> dict | None:
        """Bitsets for the CANDIDATE files only — the lazy per-candidate
        loading SCALE.md promised: big tables fetch just the bitsets the
        stats layer's survivors need (a filtered, pushdown-friendly read
        of the (file_id, bloom) parts), cached incrementally per manifest
        version so repeated probes re-fetch nothing. Small tables keep
        the eager whole-map path (zero jobs after the first load). Files
        whose bitset is absent simply stay candidates — superset contract."""
        if not spec.parts:
            return None
        live = {f.id for f in self.manifest.files}
        if len(live) <= self.BLOOM_EAGER_MAX:
            return self._bloom_map(spec)
        key = (spec.column, self.manifest.version)
        bmap = self._bloom_maps.setdefault(key, {})
        fetched = self._bloom_fetched.setdefault(key, set())
        need = [int(i) for i in candidate_ids if i in live and i not in fetched]
        if need:
            df = (
                self.spark.read.schema("__file_id int, bloom binary")
                .parquet(*[self._abs(p) for p in spec.parts])
                .filter(F.col("__file_id").isin(need))
            )
            for r in df.collect():
                bmap[r["__file_id"]] = bytes(r["bloom"])
            fetched.update(need)
        return bmap

    def _bloom_map(self, spec: IndexSpec) -> dict | None:
        """{file_id: bitset bytes} for a BLOOM index — one tiny read of
        #files rows, cached per manifest version. Later parts win when a
        file id reappears (never expected: one bitset per file build)."""
        if not spec.parts:
            return None
        key = (spec.column, self.manifest.version)
        bmap = self._bloom_maps.get(key)
        if bmap is None:
            live = {f.id for f in self.manifest.files}
            bmap = {}
            for part in spec.parts:
                df = self.spark.read.schema("__file_id int, bloom binary").parquet(
                    self._abs(part)
                )
                for r in df.collect():
                    if r["__file_id"] in live:
                        bmap[r["__file_id"]] = bytes(r["bloom"])
            self._bloom_maps[key] = bmap
        return bmap

    @staticmethod
    def _bloom_hit(bits: bytes, positions: Sequence[int]) -> bool:
        return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)

    def _posting_map(self, spec: IndexSpec) -> dict | None:
        key = (spec.column, self.manifest.version)
        pmap = self._posting_maps.get(key)
        if pmap is None:
            post = self._read_postings(spec)
            if post is None:
                return None
            pmap = {}
            if spec.columns:
                kcols = [f"k{i}" for i in range(len(spec.columns))]
                for r in post.collect():
                    pmap.setdefault(tuple(r[c] for c in kcols), set()).add(r["__file_id"])
            else:
                for r in post.collect():
                    pmap.setdefault(r["key"], set()).add(r["__file_id"])
            self._posting_maps[key] = pmap
        return pmap

    def find(self, conds: Sequence[Condition] = (), with_rowid: bool = False) -> DataFrame:
        """Lazy filtered scan; empty ``conds`` = full scan (``src/lib.rs:255``).

        A full scan carries its EXACT row count out-of-band
        (``_shortcut_live_rows``, from ``manifest.live_rows`` — the
        tombstone-corrected live total the manifest maintains at commit
        time): auto-sizing consumers (``similarity._corpus_count``, the
        LSH/IVF parameter derivation) read it instead of launching a
        counting job, so sizing an unsized ANN call against a Store
        corpus costs ZERO jobs — at the 100 TB design point a sizing
        ``count()`` would read the whole corpus once just to pick
        parameters (the ``stats_agg`` zero-job precedent). The attribute
        rides only the DataFrame object ``find`` returns; any projection
        or filter on top drops it, and consumers fall back to a counted
        (memoized) scan."""
        conds = list(conds)
        _, files = self._prune_files(conds)
        if not files:
            out = self._empty(with_rowid)
            if not conds:
                out._shortcut_live_rows = 0
            return out
        df = self._read_files(files).filter(conjunction(conds, self.colnames))
        out = df if with_rowid else df.drop(ROWID)
        if not conds:
            out._shortcut_live_rows = int(self.manifest.live_rows)
        return out

    def find_or(
        self, cond_lists: Sequence[Sequence[Condition]], with_rowid: bool = False
    ) -> DataFrame:
        """Disjunction of AND-lists: rows matching ANY of the conjunctions.

        The reference has no OR — "issue multiple quieries instead"
        (``src/lib.rs:18``). This is that advice made first-class and
        scale-correct: each branch runs its own access-path selection and
        file pruning (an index union), and the branches dedupe on
        ``__rowid`` so a row matching several branches appears once.
        """
        branches = [self.find(list(conds), with_rowid=True) for conds in cond_lists]
        if not branches:
            return self._empty(with_rowid)
        out = branches[0]
        for b in branches[1:]:
            out = out.union(b)
        out = out.dropDuplicates([ROWID])
        return out if with_rowid else out.drop(ROWID)

    def find_many(self, column: int | str, keys: Sequence[Any]) -> DataFrame:
        """Batched point lookup: all rows whose ``column`` equals ANY of
        ``keys`` — one distributed job for the whole batch.

        The idiomatic-Spark answer to the reference bench's get loop
        (``benches/bench.rs:59-70``: N sequential ``find``s): per-query
        scheduling dominates point lookups on a cluster, so a multiget
        amortizes it. File pruning unions the posting hits of every key
        (same superset-then-residual contract as ``find``,
        ``src/lib.rs:89-91``); the residual filter is a semi-join for big
        key sets and an ``isin`` for small ones.
        """
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        keys = list(keys)
        if not keys:
            return self._empty()
        files = self.manifest.files
        spec = self.manifest.indices.get(name)
        # Pruning pays off only when the key set is selective: with many
        # uniform keys virtually every file matches, so building a posting
        # map (a Spark job + driver dict) would cost more than the scan it
        # saves. Engage it for small key sets, or when the map is already
        # cached from earlier point lookups.
        map_cached = (
            spec is not None and (spec.column, self.manifest.version) in self._posting_maps
        )
        if (
            spec is not None
            and spec.kind == HASH
            and spec.rows <= self.POSTING_MAP_MAX
            and (map_cached or len(keys) <= 64)
            and all(self._probe_type_ok(name, k) for k in keys)
        ):
            pmap = self._posting_map(spec)
            if pmap is not None:
                hit_ids: set[int] = set()
                for k in keys:
                    hit_ids |= pmap.get(k, set())
                files = [f for f in files if f.id in hit_ids]
        elif (
            spec is not None
            and spec.kind == BLOOM
            and len(keys) <= 10_000  # k hashes per key, driver-side
            and all(self._bloom_probe_ok(name, k) for k in keys)
        ):
            bmap = self._bloom_bitsets(spec, [f.id for f in files])
            if bmap:
                m_bits, kh = int(spec.params["m_bits"]), int(spec.params["k"])
                probes = [_bloom_positions_py(k, m_bits, kh) for k in keys]
                files = [
                    f
                    for f in files
                    if f.id not in bmap
                    or any(self._bloom_hit(bmap[f.id], pos) for pos in probes)
                ]
        elif len(keys) <= 1000:
            # stats layer: a file can match only if some key is in range.
            # Vectorized (files × keys broadcast over the cached stat
            # arrays) with the same per-file fallback as _prune_mask.
            m = self._prune_mask_multi(name, keys)
            if m is not None:
                files = [f for f, keep in zip(files, m) if keep]
            else:
                files = [
                    f
                    for f in files
                    if not f.stats.get(name)
                    or any(self._key_in_range(f.stats[name], k) for k in keys)
                ]
        if not files:
            return self._empty()
        df = self._read_files(files).drop(ROWID)
        if len(keys) <= 1000:
            return df.filter(F.col(name).isin(keys))
        import pandas as pd

        # Arrow path: a pandas frame serializes the key batch an order of
        # magnitude faster than row-tuple pickling for big key lists
        kdf = self.spark.createDataFrame(
            pd.DataFrame({name: keys}),
            T.StructType([T.StructField(name, self.manifest.schema[name].dataType, True)]),
        ).distinct()
        return df.join(F.broadcast(kdf), name, "left_semi")

    @staticmethod
    def _key_in_range(st: Sequence, key: Any) -> bool:
        try:
            return st[0] <= key <= st[1]
        except TypeError:
            return True

    def df(self) -> DataFrame:
        """Escape hatch: the whole table as a plain DataFrame (no rowid)."""
        return self.find()

    def topk(
        self,
        column: int | str,
        k: int,
        ascending: bool = False,
        tiebreak: Sequence[str] = (),
    ) -> DataFrame:
        """``ORDER BY column [DESC] LIMIT k`` answered with manifest-stats
        pruning — a sort the metadata can mostly skip (EXTENSION; the
        reference has no ordered retrieval surface, its RangeIndex stops
        at ``between``, ``src/idx.rs:83-87``).

        Sound threshold derivation (descending case), zero Spark jobs:
        walk the files by their column MIN descending, accumulating each
        file's non-null value count (parquet-footer ``null_count``,
        recorded as stats element #3; files predating it count as >=1).
        Every value in a walked file is >= that file's min, so once the
        accumulator — minus the table's whole tombstone debt, since a
        tombstone could hit any accumulated row — reaches k, EVERY
        top-k value is >= T = the current file's min. The scan is then
        ``find([between(column, T, None)])``, which reuses the
        vectorized stats prune, access-path selection, residual
        re-check, and tombstone anti-join; files without stats survive
        pruning per find's contract. The final sort-limit runs as
        TakeOrdered over only the surviving rows.

        Pruning power follows layout: on a btree-clustered or
        ``compact(sort_by=column)`` table the scan touches ~k rows'
        worth of files; on random layout it degrades to a full scan
        with identical results. NULLs never participate (between()
        excludes them — SQL `ORDER BY .. LIMIT` with NULLS LAST
        semantics for k within the non-null count). ``tiebreak``
        columns (ascending) make the result deterministic under ties.

        Falls back to the plain full sort when no threshold is
        derivable (missing stats, mixed types, or k not covered by the
        walk)."""
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        k = int(k)
        if k <= 0:
            return self._empty()
        lohi = 1 if ascending else 0  # walk bound: max for asc, min for desc
        walkable = []
        for f in self.manifest.files:
            st = f.stats.get(name)
            if st and self._stats_ok(st[0]) and self._stats_ok(st[1]):
                walkable.append((st[lohi], st))
        threshold = None
        try:
            walkable.sort(key=lambda t: t[0], reverse=not ascending)
            cum = 0
            debt = self.manifest.tombstone_rows
            for bound, st in walkable:
                cum += st[2] if len(st) > 2 else 1
                if cum - debt >= k:
                    threshold = bound
                    break
        except TypeError:
            threshold = None  # mixed incomparable stat types → full sort
        #: observability: the stats-derived value bound (None = full sort)
        self.last_topk_threshold = threshold
        from .cmp import between

        if threshold is None:
            base = self.find([]).filter(F.col(name).isNotNull())
        elif ascending:
            base = self.find([between(name, None, threshold)])
        else:
            base = self.find([between(name, threshold, None)])
        order = [F.col(name).asc() if ascending else F.col(name).desc()]
        order += [F.col(t).asc() for t in tiebreak]
        return base.orderBy(*order).limit(k)

    def sample(self, fraction: float, seed: int | str = 0) -> DataFrame:
        """Block sample — TABLESAMPLE SYSTEM semantics: FILES are chosen
        deterministically (md5(seed:path) scaled into [0,1) < fraction)
        and only those are read; unselected files cost nothing, not even
        a footer. The cheap way to eyeball / profile / train-test-probe a
        100 TB table: cost ∝ fraction, not table size.

        SYSTEM caveats, same as every engine's: granularity is whole
        files, so the realized row fraction wobbles around ``fraction``
        (tight here because inserts split at ROWS_PER_FILE — files are
        near-uniform), and rows clustered into the same file are sampled
        together (correlated). For per-row uniform sampling use
        ``sampling.reservoir_sample`` / ``stratified_sample`` on
        ``df()`` — they pay the full scan this avoids. Deterministic:
        same (fraction, seed) → same files at any snapshot that contains
        them. Tombstoned rows stay invisible (reads flow through
        ``_read_files``)."""
        import hashlib as _hl

        if not 0.0 <= fraction <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {fraction}")
        cut = int(fraction * (1 << 32))
        picked = [
            f
            for f in self.manifest.files
            if int.from_bytes(
                _hl.md5(f"{seed}:{f.path}".encode()).digest()[:4], "big"
            )
            < cut
        ]
        if not picked:
            return self._empty()
        return self._read_files(picked).drop(ROWID)

    def explain_find(self, conds: Sequence[Condition] = ()) -> str:
        """Human-readable access-path report (Display parity spirit,
        ``src/cmp.rs:79-100``) plus file-pruning stats."""
        path, files = self._prune_files(list(conds))
        return (
            f"conds=[{', '.join(str(c) for c in conds)}] "
            f"path={path.describe()} files={len(files)}/{len(self.manifest.files)}"
        )

    def __len__(self) -> int:
        return self.manifest.live_rows

    # -- delete (src/lib.rs:140-169) ----------------------------------------

    def delete(self, conds: Sequence[Condition], defer: bool = False) -> int:
        """``delete(conds)`` = ``delete_filter(conds, |_| true)``
        (``src/lib.rs:140-142``). ``defer=True`` selects the merge-on-read
        tombstone path (see :meth:`delete_filter`)."""
        return self.delete_filter(conds, None, defer=defer)

    @_rolls_back
    def delete_filter(
        self,
        conds: Sequence[Condition],
        residual: Column | Callable[..., bool] | None,
        defer: bool = False,
    ) -> int:
        """Predicate delete; returns rows removed.

        Two physical strategies with identical semantics:

        * ``defer=False`` (default) — copy-on-write: rewrite the affected
          files without the victims. Cost ∝ bytes of the affected files.
        * ``defer=True`` — merge-on-read: write only the victim rowids as
          a tombstone file; every read anti-joins them, and ``compact()``
          materializes and clears. Cost ∝ victims — at 100 TB, deleting a
          few rows spread over many files must NOT rewrite terabytes.
          Index postings keep referencing tombstoned rowids until compact;
          the superset-then-recheck read contract (src/lib.rs:89-91) plus
          the tombstone anti-join keeps every result exact.

        ``residual`` is the reference's arbitrary row closure
        (``src/lib.rs:149``): pass a Spark ``Column`` (preferred — stays
        JVM-side) or a Python callable over the row's cells (wrapped in a
        row-at-a-time UDF; parity-only slow path).
        """
        conds = list(conds)
        pred = conjunction(conds, self.colnames)
        if residual is not None:
            if isinstance(residual, Column):
                pred = pred & residual
            else:
                fn = F.udf(lambda *cells: bool(residual(cells)), T.BooleanType())
                pred = pred & fn(*[F.col(c) for c in self.colnames])
        pred = F.coalesce(pred, F.lit(False))

        _, candidates = self._prune_files(conds)
        if not candidates:
            return 0

        # CHANGE DATA FEED (r12): both delete strategies already
        # materialize their victims, so the FULL victim rows are written
        # once to a changelog dir and staged on the commit
        # (``pending_cdf``) — ``changes()`` then serves the delete tier
        # by READING the changelog (cost ∝ deleted rows, zero snapshot
        # diffing) instead of reconstructing it from two snapshots. The
        # victim scan that previously only counted (CoW) or only
        # projected rowids (defer) now writes the rows it was already
        # reading; counts and per-file attribution derive from the
        # written changelog (parquet footers + one tiny read), so the
        # job count over the big relation is unchanged.
        small = self.manifest.live_rows <= self.POSTING_DRIVER_BUILD_ROWS
        cdf_rel = os.path.join(
            "cdf", f"d{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )

        if defer:
            vic = self._read_files(candidates).filter(pred)
            if small:
                vic = vic.coalesce(1)
            vic.write.parquet(self._abs(cdf_rel))
            n = self._parquet_rows(cdf_rel)  # footer-only, no job
            if n == 0:
                import shutil

                shutil.rmtree(self._abs(cdf_rel), ignore_errors=True)
                return 0
            victims_rel = os.path.join(
                "tomb", f"t{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
            )
            # tombstone rowids come from the tiny changelog, not a second
            # scan of the candidate files; small victim sets concatenate
            # DRIVER-SIDE with pyarrow (one file, ZERO Spark jobs — the
            # posting-driver-build precedent), so the deferred delete's
            # only job over the big relation is the changelog write itself
            if n <= self.CDF_DRIVER_READ_ROWS:
                import pyarrow as pa

                d = self._abs(cdf_rel)
                parts = [
                    pq.read_table(os.path.join(d, f), columns=[ROWID])
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                ]
                os.makedirs(self._abs(victims_rel), exist_ok=True)
                pq.write_table(
                    pa.concat_tables(parts),
                    os.path.join(self._abs(victims_rel), "part-0.parquet"),
                )
            else:
                self.spark.read.parquet(self._abs(cdf_rel)).select(
                    ROWID
                ).write.parquet(self._abs(victims_rel))
            self.manifest.tombstones.append(victims_rel)
            self.manifest.tombstone_rows += n
            self.manifest.pending_cdf = [cdf_rel]
            self._commit()
            return n

        scan = self._read_files(candidates, with_meta=True)
        vic = scan.filter(pred).withColumnRenamed("__file_path", "__cdf_file")
        if small:
            vic = vic.coalesce(1)
        vic.write.parquet(self._abs(cdf_rel))
        victims = self._parquet_rows(cdf_rel)  # footer-only, no job
        if victims == 0:
            import shutil

            shutil.rmtree(self._abs(cdf_rel), ignore_errors=True)
            return 0
        # per-file victim attribution from the tiny changelog (replaces
        # the old count-aggregate scan over the candidate files); small
        # victim sets count DRIVER-SIDE from one pyarrow column read —
        # zero Spark jobs
        if victims <= self.CDF_DRIVER_READ_ROWS:
            import collections

            d = self._abs(cdf_rel)
            counter: collections.Counter = collections.Counter()
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    counter.update(
                        pq.read_table(os.path.join(d, f), columns=["__cdf_file"])
                        .column("__cdf_file")
                        .to_pylist()
                    )
            per_file = dict(counter)
        else:
            per_file = {
                r["__cdf_file"]: r["cnt"]
                for r in self.spark.read.parquet(self._abs(cdf_rel))
                .groupBy("__cdf_file")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        affected = {f.id for f in candidates if self._abs(f.path) in per_file}
        affected_files = [f for f in self.manifest.files if f.id in affected]

        survivors = self._read_files(affected_files).filter(~pred)
        batch_rel = os.path.join("data", f"d{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        survivors.write.parquet(self._abs(batch_rel))

        # retiring files invalidates tombstone entries inside their rowid
        # ranges (the survivors were written from the anti-joined read, so
        # those rowids no longer exist anywhere) — consolidate the tombstone
        # set to keep the manifest invariant: every tombstoned rowid lies in
        # a live file, and tombstone_rows is an exact live-row correction.
        if self.manifest.tombstones:
            tomb = self._tombstone_df()
            # Consolidate by MEMBERSHIP, not rowid range: file rowid ranges
            # can overlap (compact(sort_by=<non-rowid col>) range-partitions
            # by the sort column, interleaving rowids across files), and
            # footer stats can be absent (the [-1,-1] sentinel). A raw —
            # deliberately tombstone-unfiltered — read of the retired files'
            # rowid column is the exact set of rowids that just ceased to
            # exist; only tombstones outside it survive.
            raw_affected = self.spark.read.schema(f"{ROWID} long").parquet(
                *[self._abs(f.path) for f in affected_files]
            )
            remaining = tomb.join(raw_affected, ROWID, "left_anti")
            keep_rel = os.path.join(
                "tomb", f"t{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
            )
            remaining.write.parquet(self._abs(keep_rel))
            n_keep = self._parquet_rows(keep_rel)  # footer-only, no job
            self.manifest.tombstones = [keep_rel] if n_keep else []
            self.manifest.tombstone_rows = n_keep

        self.manifest.files = [f for f in self.manifest.files if f.id not in affected]
        new_files = self._register_files(batch_rel)
        # un-index: dead file ids drop out of the live set (posting rows that
        # reference them are filtered at read; src/lib.rs:164-168 analogue),
        # and the survivors' new files get fresh postings.
        for spec in self.manifest.indices.values():
            self._append_postings(spec, new_files, incremental=False)
            if not new_files:
                self._refresh_index_stats(spec)
        self.manifest.pending_cdf = [cdf_rel]
        self._commit()
        return victims

    # -- maintenance --------------------------------------------------------

    def history(self) -> DataFrame:
        """Snapshot history (the lakehouse ``DESCRIBE HISTORY`` view): one
        row per retained manifest version — committed_at epoch, live/total
        rows, tombstoned rows, file count, rowid watermark, index count.
        PURELY driver-side metadata (one small JSON per retained version;
        bounded by vacuum retention) — zero Spark jobs at any table size.
        """
        rows = []
        for v in Manifest.versions(self.path):
            m = Manifest.load(self.path, v)
            rows.append(
                (
                    v,
                    float(m.committed_at) if m.committed_at else None,
                    m.live_rows,
                    m.total_rows,
                    m.tombstone_rows,
                    len(m.files),
                    m.rowid,
                    len(m.indices),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, committed_at double, live_rows long, total_rows long, "
            "tombstone_rows long, n_files int, rowid_watermark long, n_indices int",
        )

    @_rolls_back
    def restore(self, version: int) -> None:
        """RESTORE the table to snapshot ``version`` — as a NEW commit
        (the lakehouse undo button): the current manifest's successor
        points at the old version's files/tombstones/indices, so history
        is preserved (a restore can itself be undone) and readers flip
        atomically. METADATA-ONLY — no data movement at any table size;
        valid exactly while the target snapshot's files survive vacuum
        retention (the same contract as time-travel reads). The rowid
        watermark keeps its CURRENT value: rowids minted after the
        restored snapshot are never reused, so CDC consumers downstream
        of a restore stay exact."""
        if version == self.manifest.version:
            return
        old = Manifest.load(self.path, version)  # raises if expired/unknown
        cur = self.manifest
        cur.files = list(old.files)
        cur.tombstones = list(old.tombstones)
        cur.tombstone_rows = old.tombstone_rows
        cur.schema_json = old.schema_json
        cur.indices = {c: s for c, s in old.indices.items()}
        cur.rowid = max(cur.rowid, old.rowid)  # never reuse rowids
        # a restore RESURRECTS rows (and may drop rows added since) —
        # neither is expressible as a delete changelog, so the commit is
        # non-changelogged and CDC windows crossing it diff snapshots
        cur.pending_cdf = None
        self._commit()

    def vacuum(self, retain_versions: int = 1) -> int:
        """Garbage-collect files no longer referenced by the retained
        manifest versions (copy-on-write deletes and compactions leave the
        old files behind for snapshot reads). Returns files removed.

        ``retain_versions=1`` keeps only the current snapshot; larger values
        preserve that much time travel. The 100 TB analogue is an expiring-
        snapshots job."""
        import re
        import shutil

        from .manifest import PartedFileList

        mdir = Manifest._dir(self.path)
        versions = Manifest.versions(self.path)
        keep_versions = set(versions[-retain_versions:])
        keep_versions.add(self.manifest.version)
        live: set[str] = set()
        live_mparts: set[str] = set()
        for v in keep_versions:
            m = Manifest.load(self.path, v)
            if isinstance(m.files, PartedFileList):
                live_mparts.update(pm["part"] for pm in m.files._meta)
            for f in m.files:
                live.add(os.path.normpath(self._abs(f.path)))
            for spec in m.indices.values():
                for part in spec.parts:
                    live.add(os.path.normpath(self._abs(part)))
            for t in m.tombstones:
                live.add(os.path.normpath(self._abs(t)))
            # a retained version keeps its change-data-feed changelog, so
            # changes(since=<retained>) stays serveable from the feed for
            # exactly as long as its snapshots are (one retention contract)
            for rel in m.cdf_deletes or []:
                live.add(os.path.normpath(self._abs(rel)))
        live_dirs = {os.path.dirname(p) for p in live} | live
        removed = 0
        for sub in ("data", "idx", "tomb", "cdf"):
            root = os.path.join(self.path, sub)
            if not os.path.isdir(root):
                continue
            for dirpath, _dirnames, filenames in os.walk(root):
                for fn in filenames:
                    full = os.path.normpath(os.path.join(dirpath, fn))
                    if not fn.endswith(".parquet"):
                        continue
                    # posting parts are directories of parquet files; keep a
                    # file if any retained manifest references it or its dir
                    if full in live or os.path.dirname(full) in live:
                        continue
                    os.remove(full)
                    removed += 1
            # drop dead dirs (including _SUCCESS/.crc sidecars that the
            # parquet-only pass above deliberately left alone)
            for dirpath, dirnames, filenames in list(os.walk(root, topdown=False)):
                if dirpath == root or os.path.normpath(dirpath) in live_dirs:
                    continue
                if not any(fn.endswith(".parquet") for fn in filenames) and not dirnames:
                    shutil.rmtree(dirpath, ignore_errors=True)
        for v in versions:
            if v not in keep_versions:
                os.remove(os.path.join(mdir, f"v{v}.json"))
        # manifest part files (v<N>-files-p<k>[-<writer token>].json) not
        # referenced by any retained version (part REUSE means a part may
        # be shared across versions — only the reference set decides
        # liveness, never the name's version), and the tmp files of a
        # commit whose writer died mid-way (.v<N>.json.<token>.tmp,
        # .CURRENT.<token>.tmp) once older than a 10-minute grace that
        # spares any commit still in flight
        stale = time.time() - 600
        for f in os.listdir(mdir):
            full = os.path.join(mdir, f)
            if re.fullmatch(r"v\d+-files-p\d+(-[0-9a-f]+)?\.json", f):
                if f not in live_mparts:
                    os.remove(full)
            elif re.fullmatch(r"\.(v\d+\.json|CURRENT)\.[0-9a-f]+\.tmp", f):
                with contextlib.suppress(FileNotFoundError):
                    if os.path.getmtime(full) < stale:
                        os.remove(full)
        return removed

    def describe(self) -> DataFrame:
        """Table-health view (the ``DESCRIBE EXTENDED`` a lakehouse user
        expects): one row per column — type, index kind, cost-model stats
        (rows / ndv estimate from the committed HLL sketch), and the
        table-wide min/max folded from per-file manifest stats. PURELY
        driver-side metadata — zero Spark jobs, any table size."""
        rows = []
        files = self.manifest.files
        for f_ in self.manifest.schema.fields:
            spec = self.manifest.indices.get(f_.name)
            mins = [f.stats[f_.name][0] for f in files if f_.name in f.stats]
            maxs = [f.stats[f_.name][1] for f in files if f_.name in f.stats]
            rows.append(
                (
                    f_.name,
                    f_.dataType.simpleString(),
                    spec.kind if spec else None,
                    int(spec.rows) if spec else None,
                    int(spec.ndv) if spec else None,
                    str(min(mins)) if len(mins) == len(files) and files else None,
                    str(max(maxs)) if len(maxs) == len(files) and files else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "col_name string, dtype string, index string, idx_rows long, "
            "idx_ndv long, min string, max string",
        )

    def stats_agg(self, name: str) -> DataFrame:
        """Metadata-only COUNT/MIN/MAX for one column — the aggregate the
        stats layer answers with ZERO Spark jobs (the lakehouse
        "SELECT min(x) hits the manifest" optimization; per-file stats
        fold driver-side exactly like pruning reads them).

        Exactness guards — the fast path is taken only when it cannot be
        wrong, otherwise the SAME (n_rows, min_val, max_val) row comes
        from a column-pruned distributed scan:

        - tombstones present → fallback (a masked row may hold the
          current extreme; file stats cannot see deletes under
          merge-on-read);
        - any live file missing a usable (lo, hi) for the column →
          fallback (an all-null file and an uncollected stat look the
          same, and pruning-style superset reasoning is NOT enough for an
          exact aggregate).

        ``n_rows`` is always ``live_rows`` (exact from the manifest even
        with tombstones — tombstone_rows is an exact correction).
        Output: 1 row (n_rows, min_val, max_val)."""
        if name not in self.colnames:
            raise KeyError(name)
        files = self.manifest.files
        # fast path only for dtypes whose JSON-manifest stat values
        # round-trip losslessly into createDataFrame (numbers, strings);
        # timestamps/decimals/binary go through the scan
        dt = self.schema[name].dataType.simpleString()
        fast = (
            self.manifest.tombstone_rows == 0
            and len(files) > 0
            and dt in ("tinyint", "smallint", "int", "bigint", "float", "double", "string")
        )
        lo = hi = None
        if fast:
            import math

            def _unsafe(v):
                # NaN breaks Python's min/max fold (comparisons all False)
                # and -0.0 could surface with a different sign than the
                # scan's answer — both force the exact fallback
                return isinstance(v, float) and (
                    math.isnan(v) or (v == 0.0 and math.copysign(1.0, v) < 0)
                )

            for f in files:
                st = f.stats.get(name)
                if (
                    not st
                    or st[0] is None
                    or st[1] is None
                    or _unsafe(st[0])
                    or _unsafe(st[1])
                ):
                    fast = False
                    break
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
        out_schema = f"n_rows long, min_val {dt}, max_val {dt}"
        if fast:
            return self.spark.createDataFrame(
                [(int(self.manifest.live_rows), lo, hi)], out_schema
            )
        scan = self._read_files(files).select(name) if files else None
        if scan is None:
            return self.spark.createDataFrame([(0, None, None)], out_schema)
        return scan.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(name).alias("min_val"),
            F.max(name).alias("max_val"),
        )

    @_rolls_back
    def add_column(self, name: str, dtype: T.DataType | str) -> None:
        """Schema evolution: append a NULLABLE column — a metadata-only
        commit. No data file is touched: parquet reads against the widened
        schema fill the missing column with null for every pre-existing
        file (the Iceberg/Delta add-column shape, minus non-null defaults,
        which would need per-file schema-version bookkeeping at read time
        — deliberately out of scope). New inserts must carry the column
        (insert validates names and types against the current schema)."""
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        schema = self.manifest.schema
        if name == ROWID or name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists or is reserved")
        self.manifest.schema_json = T.StructType(
            [*schema.fields, T.StructField(name, dtype, True)]
        ).json()
        self._commit()

    @_rolls_back
    def drop_column(self, name: str) -> None:
        """Schema evolution: remove a column — metadata-only; the bytes
        stay in the files but every read projects them away. Refuses to
        drop an indexed column (drop the index first — implicit cascades
        hide cost), a CONSTRAINED column (same reasoning), or the last
        column. NOTE: POSITIONAL conditions index the post-drop column
        order, exactly like the reference's positional rows; named
        conditions are unaffected."""
        if any(c == name for c, _k in self._constraints()):
            raise ValueError(f"column {name!r} carries a constraint; drop it first")
        schema = self.manifest.schema
        if name not in schema.fieldNames():
            raise ValueError(f"no such column {name!r}")
        if name in self.manifest.indices:
            raise ValueError(f"column {name!r} is indexed — drop the index first")
        for spec in self.manifest.indices.values():
            if spec.columns and name in spec.columns:
                raise ValueError(
                    f"column {name!r} is a member of composite index "
                    f"{spec.column!r} — drop the index first"
                )
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        self.manifest.schema_json = T.StructType(
            [f for f in schema.fields if f.name != name]
        ).json()
        self._commit()

    def _cdf_window_rels(self, old_version: int) -> list[str] | None:
        """Changelog dirs for every commit in ``(old_version, current]``
        — the CDC delete tier's read set — or None when any commit in
        the window is not changelogged (restore / merge victims /
        apply_changes deletes / pre-CDF history) or a needed manifest or
        changelog dir is no longer retained. Driver-side JSON loads,
        bounded by vacuum retention; zero Spark jobs."""
        rels: list[str] = []
        for v in range(old_version + 1, self.manifest.version + 1):
            try:
                m = Manifest.load(self.path, v)
            except FileNotFoundError:
                return None
            if m.cdf_deletes is None:
                return None
            rels.extend(m.cdf_deletes)
        for rel in rels:
            if not os.path.isdir(self._abs(rel)):
                return None  # vacuumed past retention — diff if possible
        return rels

    def _read_cdf_rels(
        self, rels: Sequence[str], cols: Sequence[str], old: Manifest
    ) -> DataFrame:
        """Union of changelog dirs projected to ``cols``. Each dir was
        written in the schema of ITS commit: a column added between the
        old snapshot and the delete is projected away by ``cols``, a
        column missing from an older changelog null-pads, and the CoW
        per-file attribution column (``__cdf_file``) drops."""
        old_types = {f.name: f.dataType for f in old.schema.fields}
        old_types[ROWID] = T.LongType()
        out = None
        for rel in rels:
            df = self.spark.read.parquet(self._abs(rel))
            have = set(df.columns)
            part = df.select(
                *[
                    F.col(c)
                    if c in have
                    else F.lit(None).cast(old_types[c]).alias(c)
                    for c in cols
                ]
            )
            out = part if out is None else out.unionByName(part)
        return out

    def changes(self, since_version: int) -> DataFrame:
        """Incremental (CDC) read: every row-level change between snapshot
        ``since_version`` and the current version, as one DataFrame of
        (change_type 'insert'|'delete', __rowid, *cols) — what a downstream
        incremental consumer (materialized aggregate, search index, replica)
        applies instead of re-reading the table.

        Exactness rests on two Store invariants: rowids are NEVER reused,
        and rewrites (copy-on-write delete, compact) PRESERVE rowids — so
        - inserts are precisely the live rows with ``__rowid`` at or above
          the old snapshot's watermark. Files are pruned driver-side by
          their manifest ``max_rowid`` (zero jobs), so the scan cost is
          proportional to data written since the snapshot, not table size;
        - deletes are served in the cheapest of THREE tiers:

          1. CHANGE DATA FEED (r12, the Delta-CDF shape): when every
             commit in the window changelogged its deletes (both
             ``delete_filter`` strategies write their full victim rows
             at delete time — rows the mutation was already reading),
             the tier is a READ of those changelog dirs filtered to
             ``rowid < watermark`` — cost ∝ deleted rows, zero snapshot
             scans, zero joins; an insert/compact-only window is an
             EMPTY tier with zero jobs. ``last_changes_used_cdf``
             records whether this tier served.
          2. CHURN-BOUNDED snapshot diff: when the feed is unavailable
             (a merge / apply_changes / pre-CDF commit in the window)
             but tombstones only grew, the tier scans [retired files] ∪
             [still-shared files overlapping the new tombstones' footer
             range, semi-joined on those rowids], anti-joined against
             files ADDED since — cost ∝ churn, never ∝ table size.
          3. FULL diff (old-live ∖ current-live) when tombstones shrank
             (``restore``) — exactness never rides an optimization.

          Deleted rows' values are identical in all tiers (rows are
          immutable; rewrites preserve rowids and values). ``vacuum``
          retires changelogs and old files together with their
          snapshots, so CDC readers consume before the retention
          horizon — the standard lakehouse contract.
        """
        try:
            old = Manifest.load(self.path, since_version)
        except FileNotFoundError:
            raise ValueError(
                f"no snapshot v{since_version} of {self.path!r} is retained "
                "(never committed, or vacuumed past the retention horizon)"
            ) from None
        wm = old.rowid
        new_files = [f for f in self.manifest.files if f.max_rowid >= wm]
        if new_files:
            appended = self._read_files(new_files).filter(F.col(ROWID) >= wm)
        else:
            appended = self._empty(True)
        old_store = Store(self.spark, self.path, old)
        # CHANGE DATA FEED fast path (r12): when EVERY commit in the
        # window changelogged its deletes (delete_filter writes full
        # victim rows at delete time; insert/compact/index commits record
        # "no deletes"), the delete tier is a READ of those changelog
        # dirs — cost ∝ deleted rows, zero snapshot scans, zero joins —
        # and resurrection is impossible (restore poisons the window).
        # The ``rowid < wm`` filter nets out rows inserted AND deleted
        # inside the window; values are exact because rows are immutable
        # (rewrites preserve rowids and values), so the changelog copy
        # equals what the old snapshot's files would serve.
        cdf_rels = self._cdf_window_rels(old.version)
        self.last_changes_used_cdf = cdf_rels is not None
        cols_now = [ROWID, *self.manifest.schema.fieldNames()]
        old_fields = set(old.schema.fieldNames())
        old_cols_cdf = [c for c in cols_now if c == ROWID or c in old_fields]
        old_tomb_set = set(old.tombstones)
        tombs_grew = old_tomb_set <= set(self.manifest.tombstones)
        cur_paths = {f.path for f in self.manifest.files}
        old_paths = {f.path for f in old.files}
        if cdf_rels is not None:
            if cdf_rels:
                deleted = self._read_cdf_rels(cdf_rels, old_cols_cdf, old).filter(
                    F.col(ROWID) < wm
                )
            else:
                # delete-free window: EMPTY tier, zero jobs
                deleted = old_store._empty(True)
            resurrected = self._empty(True)
        elif tombs_grew:
            # churn-bounded tiers (see docstring): a live row disappears
            # only with its file (retired) or via a tombstone added since
            retired = [f for f in old.files if f.path not in cur_paths]
            added = [f for f in self.manifest.files if f.path not in old_paths]
            new_tombs = [
                t for t in self.manifest.tombstones if t not in old_tomb_set
            ]
            cand = old_store._read_files(retired) if retired else None
            if new_tombs:
                tmin, tmax = self._tomb_rowid_range(new_tombs)
                shared_hit = [
                    f
                    for f in old.files
                    if f.path in cur_paths
                    and f.max_rowid >= tmin
                    and f.min_rowid <= tmax
                ]
                if shared_hit:
                    tomb_ids = self.spark.read.schema(f"{ROWID} long").parquet(
                        *[self._abs(t) for t in new_tombs]
                    )
                    shared_cand = old_store._read_files(shared_hit).join(
                        tomb_ids, ROWID, "left_semi"
                    )
                    cand = (
                        shared_cand
                        if cand is None
                        else cand.unionByName(shared_cand)
                    )
            if cand is None:
                deleted = old_store._empty(True)
            else:
                # a candidate is still live only if a rewrite carried its
                # rowid into a file added since (rowids are preserved)
                added_live_ids = (
                    self._read_files(added).select(ROWID) if added else None
                )
                deleted = (
                    cand
                    if added_live_ids is None
                    else cand.join(added_live_ids, ROWID, "left_anti")
                )
            # RESURRECTED tier: under grown-only tombstones a shared
            # file's row that is live now was live at the old snapshot
            # too, so resurrection can only surface from ADDED files
            # carrying sub-watermark rowids (a restore-like re-addition);
            # the old-live anti-join side prunes to the files whose rowid
            # ranges overlap those rows
            sub_wm_added = [f for f in added if f.min_rowid < wm]
            if sub_wm_added:
                added_sub_live = self._read_files(sub_wm_added).filter(
                    F.col(ROWID) < wm
                )
                lo = min(f.min_rowid for f in sub_wm_added)
                old_overlap = [
                    f for f in old.files if f.max_rowid >= lo and f.min_rowid < wm
                ]
                if old_overlap:
                    old_ids_pruned = old_store._read_files(old_overlap).select(
                        ROWID
                    )
                    resurrected = added_sub_live.join(
                        old_ids_pruned, ROWID, "left_anti"
                    )
                else:
                    resurrected = added_sub_live
            else:
                resurrected = self._empty(True)
        else:
            # restore() shrank the tombstone set — fall back to the exact
            # full formula: old live ∖ current live, plus live
            # sub-watermark rows the old snapshot did not have (pinned by
            # test_changes_exact_across_restore)
            old_rows = old_store.find([], with_rowid=True)
            old_ids = old_rows.select(ROWID)
            cur_rows = self.find([], with_rowid=True)
            cur_ids = cur_rows.select(ROWID)
            deleted = old_rows.join(cur_ids, ROWID, "left_anti")
            resurrected = cur_rows.filter(F.col(ROWID) < wm).join(
                old_ids, ROWID, "left_anti"
            )
        cols = [ROWID, *self.manifest.schema.fieldNames()]
        # schema evolution between the snapshots: the delta is expressed in
        # the CURRENT schema — a column added since the old snapshot is
        # null on delete rows (the old files never had it); a column
        # dropped since is projected away from both sides
        old_cols = [c for c in cols if c == ROWID or c in old.schema.fieldNames()]
        return (
            appended.select(F.lit("insert").alias("change_type"), *cols)
            .unionByName(resurrected.select(F.lit("insert").alias("change_type"), *cols))
            .unionByName(
                deleted.select(F.lit("delete").alias("change_type"), *old_cols),
                allowMissingColumns=True,
            )
            .select("change_type", *cols)
        )

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level delta between two SNAPSHOTS — time-travel diff, the
        generalization of :meth:`changes` to a bounded version window
        (``changes(v) ≡ diff(v, current)``). Implemented by pointing the
        CDC reader at the target snapshot's manifest, so every changes()
        invariant (rowid watermark file pruning, the resurrection tier for
        restores, current-schema projection) applies verbatim; mutations
        after ``to_version`` are invisible. Zero extra scan cost over
        changes(): both snapshots are metadata loads."""
        if to_version is None:
            return self.changes(from_version)
        if to_version < from_version:
            raise ValueError(
                f"to_version {to_version} must be >= from_version {from_version}"
            )
        try:
            to_man = Manifest.load(self.path, to_version)
        except FileNotFoundError:
            raise ValueError(
                f"no snapshot v{to_version} of {self.path!r} is retained "
                "(never committed, or vacuumed past the retention horizon)"
            ) from None
        tgt = Store(self.spark, self.path, to_man)
        out = tgt.changes(from_version)
        # surface the CDC-tier introspection on the store the caller holds
        self.last_changes_used_cdf = tgt.last_changes_used_cdf
        return out

    @_rolls_back
    def apply_changes(self, delta: DataFrame) -> tuple[int, int]:
        """Apply an upstream store's ``changes()`` delta to this store —
        the consumer half of CDC: a follower converges to the leader by
        applying each (change_type, __rowid, *cols) delta in order, at
        cost ∝ delta size instead of re-copying the table.

        The follower PRESERVES the leader's rowid space (legal because
        rowids are never reused upstream and rewrites preserve them), so
        later deltas — whose delete rows are addressed by rowid — keep
        applying. Corollary: a follower must take writes ONLY through
        ``apply_changes``; a local ``insert`` would mint rowids that
        collide with future leader batches (guarded below).

        Atomicity mirrors ``merge``: deletes are staged as a merge-on-read
        tombstone that rides the SAME manifest commit as the inserted
        files — a reader sees the pre-delta or the fully-applied table,
        never half. Deletes can only reference pre-delta rows
        (``changes()`` nets out rows appended and deleted inside the
        window), so staging deletes first is safe.

        Returns (rows_inserted, rows_deleted).
        """
        expect = ["change_type", ROWID, *self.manifest.schema.fieldNames()]
        got = [f.name for f in delta.schema.fields]
        if got != expect:
            raise ValueError(f"delta schema mismatch: expected {expect}, got {got}")
        # Small-delta fast path: ONE bounded collect (limit gate) replaces
        # the distributed apply's ~6 actions (stats agg, collision probe,
        # resurrection probe, victims write+count, batch write) — a CDC
        # micro-delta is metadata-class data, and the follower-side live /
        # tombstone sets it must be checked against are footer-readable
        # when the follower is small. Ineligible (big delta, big follower,
        # non-atomic schema) falls through to the unchanged path.
        done = self._apply_changes_driver(delta)
        if done is not None:
            return done
        delta = delta.persist()
        try:
            ins = delta.filter(F.col("change_type") == "insert").select(
                ROWID, *self.manifest.schema.fieldNames()
            )
            st = ins.agg(
                F.count(F.lit(1)).alias("n"), F.min(ROWID).alias("lo"), F.max(ROWID).alias("hi")
            ).collect()[0]
            n_ins = int(st["n"] or 0)
            # Legitimacy guard — runs BEFORE any manifest staging so a
            # rejected delta leaves no state behind. An insert's rowid may
            # sit below the follower watermark (a RESTORE on the leader
            # resurrects old rowids — changes() emits them as inserts), so
            # the check is COLLISION against the live set, not a watermark
            # floor: a colliding rowid means the delta was applied twice or
            # the follower took a local write. One semi-join on the
            # column-pruned rowid scan; live set is empty on a fresh
            # follower, so bootstrap pays nothing.
            if n_ins and self.manifest.files:
                live_ids = self.find([], with_rowid=True).select(ROWID)
                n_clash = ins.select(ROWID).join(live_ids, ROWID, "left_semi").count()
                if n_clash:
                    raise ValueError(
                        f"{n_clash} delta insert rowid(s) collide with live "
                        "follower rows — the delta was applied twice, or the "
                        "follower took a local write"
                    )
            # Resurrection via tombstone purge: a delta insert may carry a
            # rowid this follower previously TOMBSTONED (leader deleted
            # then RESTOREd across the window; changes() nets within-
            # window, so the same delta never both deletes and inserts one
            # rowid). The masked PHYSICAL copy still sits in a live file —
            # rows are immutable (add/remove only), so a rowid always maps
            # to the same content and un-masking it IS the resurrection;
            # inserting a second physical copy would duplicate the rowid.
            # Without the purge the insert path would also leave the row
            # permanently masked (reads anti-join the whole tombstone set)
            # — silent divergence from the leader. Consolidate the
            # tombstone parts minus the delta's insert rowids in the SAME
            # commit; rowids absent from the tombstone set (including
            # resurrections whose masked copy was since compacted away)
            # fall through to the physical-insert path below. Skipped
            # entirely (one semi-join probe) when nothing is resurrected.
            n_res = 0
            if n_ins and self.manifest.tombstones:
                tomb = self._tombstone_df()
                ins_ids = ins.select(ROWID)
                n_res = tomb.join(ins_ids, ROWID, "left_semi").count()
                if n_res:
                    keep_rel = os.path.join(
                        "tomb", f"p{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                    )
                    tomb.join(ins_ids, ROWID, "left_anti").write.parquet(self._abs(keep_rel))
                    n_keep = self._parquet_rows(keep_rel)  # footer-only, no job
                    # tomb lazily re-reads the OLD part paths (still on
                    # disk) — safe to keep using after the manifest swap
                    ins = ins.join(tomb, ROWID, "left_anti")
                    self.manifest.tombstones = [keep_rel] if n_keep else []
                    self.manifest.tombstone_rows = n_keep
            n_del = 0
            dels = delta.filter(F.col("change_type") == "delete").select(ROWID)
            if self.manifest.files:
                # semi-join against the live set keeps tombstone_rows an
                # exact live-row correction even on a malformed delta
                live = self.find([], with_rowid=True).select(ROWID)
                victims_rel = os.path.join(
                    "tomb", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                )
                dels.join(live, ROWID, "left_semi").write.parquet(self._abs(victims_rel))
                n_del = self._parquet_rows(victims_rel)  # footer-only, no job
                if n_del:
                    self.manifest.tombstones.append(victims_rel)
                    self.manifest.tombstone_rows += n_del
                else:
                    import shutil

                    shutil.rmtree(self._abs(victims_rel), ignore_errors=True)
            if n_ins - n_res > 0:
                batch_rel = os.path.join(
                    "data", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                )
                self._cluster_batch(ins, n_ins - n_res).write.parquet(self._abs(batch_rel))
                self._register_and_index(batch_rel)
            if n_ins:
                self.manifest.rowid = max(self.manifest.rowid, int(st["hi"]) + 1)
            if n_ins or n_del:
                if n_del or n_res:
                    # the applied deletes were only materialized as rowids
                    # (and a resurrection purge is not a delete at all) —
                    # mark the commit non-changelogged; the follower's own
                    # downstream CDC falls back to snapshot diffing across
                    # it. Insert-only applications stay changelog-clean.
                    self.manifest.pending_cdf = None
                self._commit()
            return n_ins, n_del
        finally:
            delta.unpersist()

    def _apply_changes_driver(self, delta: DataFrame) -> tuple[int, int] | None:
        """Driver-side CDC apply for micro-deltas; returns (inserted,
        deleted) or None when ineligible. Semantics identical to the
        distributed path (collision guard, resurrection purge, live-set
        delete masking, one atomic commit) — only the execution venue
        changes: the delta arrives via one bounded collect, the follower's
        live/tombstone rowid sets come from parquet footers and pyarrow
        column reads, and the staged tombstone / data files are written
        with pyarrow (the driver-insert kernel's layout)."""
        schema = self.manifest.schema
        if not all(self._driver_atomic_type(f.dataType) for f in schema.fields):
            return None
        if self.manifest.tombstone_rows > self.CDF_DRIVER_READ_ROWS:
            return None
        if sum(f.rows for f in self.manifest.files) > self.POSTING_DRIVER_BUILD_ROWS:
            return None
        cap = self.DRIVER_INSERT_ROWS
        rows = delta.limit(cap + 1).collect()
        if len(rows) > cap:
            return None  # bulk delta: the distributed path's parallelism earns its jobs
        names = schema.fieldNames()
        ins = [r for r in rows if r["change_type"] == "insert"]
        del_ids = {int(r[ROWID]) for r in rows if r["change_type"] == "delete"}
        n_ins = len(ins)
        # follower rowid sets, footer/pyarrow-read (zero jobs)
        all_ids: set[int] = set()
        for f in self.manifest.files:
            all_ids.update(
                pq.read_table(self._abs(f.path), columns=[ROWID])
                .column(ROWID)
                .to_pylist()
            )
        tomb: set[int] = set()
        for rel in self.manifest.tombstones:
            d = self._abs(rel)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    tomb.update(
                        pq.read_table(os.path.join(d, fn), columns=[ROWID])
                        .column(ROWID)
                        .to_pylist()
                    )
        live = all_ids - tomb
        ins_ids = {int(r[ROWID]) for r in ins}
        if ins_ids and self.manifest.files:
            n_clash = len(ins_ids & live)
            if n_clash:
                raise ValueError(
                    f"{n_clash} delta insert rowid(s) collide with live "
                    "follower rows — the delta was applied twice, or the "
                    "follower took a local write"
                )
        # resurrection purge: un-mask tombstoned rowids the delta
        # re-inserts (same commit); the rest insert physically
        res_ids = ins_ids & tomb
        n_res = len(res_ids)
        ins = [r for r in ins if int(r[ROWID]) not in res_ids]
        # the data file's Arrow table is built BEFORE anything is staged:
        # un-orderable sort values or cells pyarrow cannot coerce the way
        # the Spark writer would decline here, with nothing to undo, and
        # the distributed path decides on an untouched manifest
        table = None
        if ins:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            dts = [f.dataType for f in schema.fields]
            try:
                tuples = [
                    (int(r[ROWID]),)
                    + tuple(self._driver_cell(dt, r[c]) for dt, c in zip(dts, names))
                    for r in ins
                ]
                sort_cols = self._cluster_cols()
                if sort_cols:
                    idxs = [names.index(c) + 1 for c in sort_cols]
                    tuples.sort(
                        key=lambda t: tuple((t[i] is not None, t[i]) for i in idxs)
                    )
                table = pa.Table.from_pylist(
                    [dict(zip([ROWID] + list(names), t)) for t in tuples],
                    schema=to_arrow_schema(self._schema_with_rowid()),
                )
            except (TypeError, pa_err.ArrowInvalid, pa_err.ArrowTypeError):
                return None
        if n_res:
            keep = sorted(tomb - res_ids)
            keep_rel = os.path.join(
                "tomb", f"p{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
            )
            self._write_rowid_part(keep_rel, keep)
            self.manifest.tombstones = [keep_rel] if keep else []
            self.manifest.tombstone_rows = len(keep)
        n_del = 0
        if self.manifest.files:
            victims = sorted(del_ids & live)
            n_del = len(victims)
            if n_del:
                victims_rel = os.path.join(
                    "tomb", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                )
                self._write_rowid_part(victims_rel, victims)
                self.manifest.tombstones.append(victims_rel)
                self.manifest.tombstone_rows += n_del
        if table is not None:
            batch_rel = os.path.join(
                "data", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
            )
            out_dir = self._abs(batch_rel)
            os.makedirs(out_dir, exist_ok=True)
            pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))
            self._register_and_index(batch_rel)
        if n_ins:
            self.manifest.rowid = max(self.manifest.rowid, max(ins_ids) + 1)
        if n_ins or n_del:
            if n_del or n_res:
                self.manifest.pending_cdf = None
            self._commit()
        return n_ins, n_del

    def _write_rowid_part(self, rel: str, rowids: list[int]) -> None:
        """One-file tombstone part written driver-side (pyarrow), matching
        the Spark writer's single-column ``__rowid long`` schema."""
        import pyarrow as pa

        os.makedirs(self._abs(rel), exist_ok=True)
        pq.write_table(
            pa.table({ROWID: pa.array(rowids, type=pa.int64())}),
            os.path.join(self._abs(rel), "part-00000.parquet"),
        )

    def _zorder_key(self, df: DataFrame, zcols: Sequence[str]) -> Column:
        """Interleaved-bit z-key over 2+ numeric columns: each value is
        scaled to a 16-bit rank inside its GLOBAL [min, max] (taken from
        manifest file stats when every live file carries them — zero Spark
        jobs — else one aggregate), then rank bits are interleaved
        round-robin into one long. Nulls rank 0 (footer stats ignore nulls,
        so pruning is unaffected). Pure column arithmetic — the key build
        is map-side and whole-stage-codegen'd."""
        import functools

        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
        )
        for c in zcols:
            if not isinstance(self.manifest.schema[c].dataType, numeric):
                raise ValueError(
                    f"zorder column {c!r} must be numeric, got "
                    f"{self.manifest.schema[c].dataType.simpleString()}"
                )
        bounds: dict[str, tuple[float, float]] = {}
        if all(
            c in f.stats and f.stats[c][0] is not None and f.stats[c][1] is not None
            for f in self.manifest.files
            for c in zcols
        ):
            for c in zcols:
                bounds[c] = (
                    float(min(f.stats[c][0] for f in self.manifest.files)),
                    float(max(f.stats[c][1] for f in self.manifest.files)),
                )
        else:  # stats gap (e.g. all-null file) → one bounded agg job
            row = df.agg(
                *[F.min(c).alias(f"__lo_{c}") for c in zcols],
                *[F.max(c).alias(f"__hi_{c}") for c in zcols],
            ).collect()[0]
            for c in zcols:
                lo = row[f"__lo_{c}"]
                hi = row[f"__hi_{c}"]
                bounds[c] = (float(lo or 0), float(hi if hi is not None else 0))
        bits = 16
        terms: list[Column] = []
        n = len(zcols)
        for j, c in enumerate(zcols):
            lo, hi = bounds[c]
            span = hi - lo
            if span <= 0:
                continue  # constant column contributes nothing to the key
            rank = F.floor(
                (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float((1 << bits) - 1))
            )
            rank = F.coalesce(
                F.greatest(F.lit(0), F.least(rank, F.lit((1 << bits) - 1))), F.lit(0)
            ).cast("long")
            for i in range(bits):
                bit = F.shiftright(rank, i).bitwiseAND(F.lit(1))
                terms.append(F.shiftleft(bit, i * n + j))
        if not terms:
            return F.lit(0).cast("long")
        return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)

    def maybe_compact(
        self,
        max_files: int = 64,
        min_rows_per_file: int | None = None,
        target_files: int | None = None,
        sort_by: str | Sequence[str] | None = None,
    ) -> bool:
        """Auto-OPTIMIZE policy: run :meth:`compact` only when the table's
        layout has degraded — the decision is METADATA-ONLY (zero Spark
        jobs at any table size), so a writer can call this after every
        batch and pay nothing until compaction is actually due.

        Triggers when EITHER holds:
        * live file count exceeds ``max_files`` (small-files problem:
          per-file task/manifest/open overheads dominate), or
        * tombstoned rows exceed half the live rows (merge-on-read debt:
          every read is paying the anti-join for more dead weight than
          data), or
        * mean rows per live file falls below ``min_rows_per_file``
          (default ROWS_PER_FILE / 4 — files too small to amortize a
          scan task).

        Returns True iff a compaction ran. The 100 TB analogue is the
        background OPTIMIZE service every lakehouse runs; the thresholds
        are per-table knobs, not magic.
        """
        files = self.manifest.files
        if not files:
            return False
        if min_rows_per_file is None:
            min_rows_per_file = self.ROWS_PER_FILE // 4
        n = len(files)
        mean_rows = self.manifest.total_rows / n
        debt = self.manifest.tombstone_rows > self.manifest.live_rows / 2
        # the small-files rules need n > 1: a single-file table cannot be
        # improved by merging files, however small it is (tiny DEV tables
        # would otherwise recompact forever)
        if debt or (n > 1 and (n > max_files or mean_rows < min_rows_per_file)):
            self.compact(target_files=target_files, sort_by=sort_by)
            return True
        return False

    @_rolls_back
    def compact(
        self,
        target_files: int | None = None,
        sort_by: str | Sequence[str] | None = None,
    ) -> None:
        """Rewrite the table into ``target_files`` files, optionally
        clustered for data skipping. Scale hygiene: the 100 TB analogue is
        a background compaction service; here it is an explicit call.

        ``sort_by`` as a single column gives a LINEAR sort (a btree index
        gets real min/max locality so manifest-stats and parquet row-group
        pruning bite on range predicates over that one column). ``sort_by``
        as a LIST of 2+ numeric columns gives a Z-ORDER layout (the
        lakehouse OPTIMIZE ZORDER shape): each column is scaled to a
        16-bit rank in its global [min, max], the ranks' bits are
        interleaved into one long, and files are range-partitioned + sorted
        by that key — so every file covers a small hyper-rectangle and the
        SAME footer min/max stats prune predicates on ANY of the z
        columns, instead of only the leading sort column. The z-key is
        layout-only: it is dropped before write and never changes query
        results (``store_compact_invariant`` semantics hold)."""
        if not self.manifest.files:
            return
        df = self._read_files(self.manifest.files)
        if target_files is None:
            target_files = max(1, self.manifest.total_rows // 1_000_000)
        zcols: list[str] | None = None
        if sort_by is not None and not isinstance(sort_by, str):
            zcols = list(sort_by)
            if len(zcols) < 2:
                zcols_single = zcols[0] if zcols else None
                sort_by = zcols_single
                zcols = None
        if zcols:
            df = df.withColumn("__z", self._zorder_key(df, zcols))
            df = df.repartitionByRange(target_files, "__z")
            order_col = "__z"
        elif sort_by:
            df = df.repartitionByRange(target_files, sort_by)
            order_col = sort_by
        else:
            df = df.repartitionByRange(target_files, ROWID)
            order_col = ROWID
        batch_rel = os.path.join("data", f"c{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        out = df.sortWithinPartitions(order_col)
        if zcols:
            out = out.drop("__z")
        out.write.parquet(self._abs(batch_rel))
        self.manifest.files = []
        # the rewrite materialized the tombstone anti-join — clear the
        # merge-on-read state (compact IS the tombstone materialization job)
        self.manifest.tombstones = []
        self.manifest.tombstone_rows = 0
        new_files = self._register_files(batch_rel)
        for spec in self.manifest.indices.values():
            spec.parts = []
            spec.part_stats = {}
            spec.sketch = None  # rebuilt from the compacted postings
            self._append_postings(spec, new_files, incremental=False)
        self._commit()
