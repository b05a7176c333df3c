"""The benchmark's workloads: seeded closed loops over the ``shortcut_spark``
public API (``Store``, ``MatView``, ``operators``).

One client issues each operation only after the previous one returned.
Set-up (data generation, store and index builds, one warm-up pass) is
timed as a whole and never mixed into op latencies. Every op's output is
checked against an answer the harness derives from the generated data,
not from the library; an op that raises or returns a wrong answer counts
as failed.

``lookup``  read-only point/batch/range/unindexed finds on a lineitem Store
            at a fixed version, so the index and stats caches stay warm.
``ingest``  write cycles on an orders Store with a MatView over it: two
            rounds of insert, delete (copy-on-write, then tombstone) and
            view refresh, read-your-writes finds, then a compaction. Every
            commit bumps the version, so each cycle's reads start cold.
``pipeline`` the LLM-data operators on a generated corpus with planted
            duplicates and an embedding table; no Store.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import re
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
    return total


@dataclass
class Ctx:
    """What a workload needs from the run: session, tracer, paths, seed."""

    spark: object
    tracer: object
    work: str
    seed: int
    scale: float = 1.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    #: op kind → latencies (s) measured in the timed loop
    samples: dict = field(default_factory=dict)
    #: explain_find results (traced run only): (used_index, kept, total)
    explains: list = field(default_factory=list)
    #: per refresh: (jobs, scanned the base table)
    refreshes: list = field(default_factory=list)

    #: the workload's main Store, once created
    store: object = None
    #: traced run: op span id → bytes of data files the op added
    files: dict = field(default_factory=dict)
    #: id of the first traced op of the timed loop
    loop_first_op: int = 0

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def _data_files(self) -> dict[str, int]:
        if not self.tracer.enabled or self.store is None:
            return {}
        t = time.perf_counter()
        paths = (os.path.join(self.store.path, f.path) for f in self.store.manifest.files)
        out = {p: os.path.getsize(p) for p in paths}
        self.tracer.overhead_s += time.perf_counter() - t
        return out

    def _traced(self, kind: str, fn):
        before = self._data_files()
        with self.tracer.op(kind) as span:
            out = fn()
        if span is not None:
            self.files[span.id] = sum(v for p, v in self._data_files().items() if p not in before)
        return out

    def timed(self, kind: str, fn, record: bool = True):
        """Run one op; returns (result, ok). An exception counts the op as
        failed and returns (None, False)."""
        t0 = time.perf_counter()
        try:
            out = self._traced(kind, fn)
        except Exception as e:  # a failed op is a benchmark result, not a crash
            self.check(f"{kind}: {type(e).__name__}: {e}"[:300], False)
            return None, False
        if record:
            self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out, True

    def setup_op(self, kind: str, fn):
        """A set-up step, traced like an op; a failure here ends the run."""
        return self._traced(kind, fn)

    def explain(self, store, conds) -> None:
        """Access path and files kept for ``conds`` (traced run only; the
        posting/stat caches are warm from the find just run, so no job)."""
        if not self.tracer.enabled:
            return
        t = time.perf_counter()
        text = store.explain_find(conds)
        m = re.search(r"files=(\d+)/(\d+)", text)
        self.explains.append(("IndexLookup" in text, int(m.group(1)), int(m.group(2))))
        self.tracer.overhead_s += time.perf_counter() - t


def units(seconds: float, at_least: int):
    """Unit indices for a closed loop: until ``seconds`` have passed and
    ``at_least`` units ran."""
    end = time.perf_counter() + seconds
    i = 0
    while i < at_least or time.perf_counter() < end:
        yield i
        i += 1


def _day(d: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=datagen.EPOCH_DAY0 + int(d))


class Lookup:
    """Read-only finds on a lineitem Store clustered on ``l_orderkey``."""

    BASE_ROWS = 50_000
    FILES = 16
    # one block of ops, shuffled per block: exact mix, seeded order
    BLOCK = ("eq",) * 12 + ("many",) * 3 + ("range",) * 3 + ("scan",) * 2
    MIN_BLOCKS = 3  # a run measures at least 60 finds
    MANY_KEYS = 8
    RANGE_DAYS = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 20])

    def setup(self) -> None:
        from shortcut_spark import Store

        c, sp = self.ctx, self.ctx.spark
        rows = max(4_000, int(self.BASE_ROWS * c.scale))
        table, cols = datagen.lineitem(c.seed, rows)
        src = os.path.join(c.work, "lineitem.parquet")
        pq.write_table(table, src)
        self.n_orders = max(1, rows // 4)
        self.by_order = np.bincount(cols["l_orderkey"], minlength=self.n_orders)
        self.by_part = np.bincount(cols["l_partkey"])
        self.by_day = np.bincount(cols["l_shipdate"], minlength=datagen.N_DAYS)
        path = os.path.join(c.work, "lineitem_store")
        self.store = c.store = c.setup_op("create", lambda: Store.create(sp, path, sp.read.parquet(src).schema))
        c.setup_op("insert", lambda: self.store.insert(sp.read.parquet(src)))
        c.setup_op("compact", lambda: self.store.compact(target_files=self.FILES, sort_by="l_orderkey"))
        c.setup_op("index", lambda: self.store.index("l_orderkey", "hash"))
        c.setup_op("index", lambda: self.store.index("l_shipdate", "btree"))
        for kind in self.BLOCK:  # warm-up: one block of the op mix
            self.op(kind, record=False)

    def op(self, kind: str, record: bool = True) -> None:
        from shortcut_spark import between, eq

        c, st, tr, rng = self.ctx, self.store, self.ctx.tracer, self.rng
        if kind == "many":
            keys = [int(k) for k in rng.choice(self.n_orders, self.MANY_KEYS, replace=False)]
            want = int(self.by_order[keys].sum())

            def call():
                with tr.span("store.find_many"):
                    df = st.find_many("l_orderkey", keys)
                with tr.span("collect"):
                    return df.collect()

            rows, ok = c.timed("find.many", call, record)
            if ok:
                c.check("find.many rows", len(rows) == want and all(r.l_orderkey in keys for r in rows))
            return
        if kind == "eq":
            k = int(rng.integers(0, self.n_orders))
            conds, want, col = [eq("l_orderkey", k)], int(self.by_order[k]), "l_orderkey"
        elif kind == "range":
            d0 = int(rng.integers(0, datagen.N_DAYS - self.RANGE_DAYS))
            d1 = d0 + self.RANGE_DAYS - 1
            conds, want, col = [between("l_shipdate", _day(d0), _day(d1))], int(self.by_day[d0 : d1 + 1].sum()), None
        else:  # scan: equality on an unindexed column, stats-only pruning
            k = int(rng.integers(0, len(self.by_part)))
            conds, want, col = [eq("l_partkey", k)], int(self.by_part[k]), "l_partkey"

        def call():
            with tr.span("store.find"):
                df = st.find(conds)
            with tr.span("collect"):
                return df.collect()

        rows, ok = c.timed(f"find.{kind}", call, record)
        if ok:
            c.check(
                f"find.{kind} rows",
                len(rows) == want and (col is None or all(r[col] == k for r in rows)),
            )
            c.explain(st, conds)

    def loop(self, seconds: float) -> dict:
        block: list[str] = []
        t0 = time.perf_counter()
        n = 0
        for _ in units(seconds, at_least=self.MIN_BLOCKS * len(self.BLOCK)):
            if not block:
                block = list(self.rng.permutation(self.BLOCK))
            self.op(block.pop())
            n += 1
        return {"wall_s": time.perf_counter() - t0, "units": n, "work": n}

    def finish(self) -> dict:
        return {"stores": [self.store.path], "tables": [self.store]}


class Ingest:
    """Write rounds on an orders Store with a MatView over it."""

    BASE_ROWS = 20_000
    HELD_SHARE = 0.5  # keys held out of the initial load, inserted by rounds
    # rows inserted per cycle, split between its two rounds at a seeded
    # point inside SPLIT: a narrow band, and the same rows in every cycle
    CYCLE_ROWS = 2_000
    SPLIT = (0.45, 0.55)
    FIND_KEYS = 9
    RANGE_WIDTH = 24

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 30])
        self.round = 0
        self.inserted = 0  # rows inserted by the timed loop

    def setup(self) -> None:
        from shortcut_spark import MatView, Store

        c, sp = self.ctx, self.ctx.spark
        rows = max(2_000, int(self.BASE_ROWS * c.scale))
        self.table, cols = datagen.orders(c.seed, rows)
        self.status = cols["o_orderstatus"]
        perm = self.rng.permutation(rows)
        n_held = int(rows * self.HELD_SHARE)
        self.held = [int(k) for k in perm[:n_held]]
        base = np.sort(perm[n_held:])
        # delete victims come from the initial load, in seeded order
        self.victims = [int(k) for k in perm[n_held:]]
        self.live = set(int(k) for k in base)
        self.cycle_rows = max(2, int(self.CYCLE_ROWS * c.scale))
        src = os.path.join(c.work, "orders.parquet")
        pq.write_table(self.table.take(base), src)
        path = os.path.join(c.work, "orders_store")
        self.store = c.store = c.setup_op("create", lambda: Store.create(sp, path, sp.read.parquet(src).schema))
        c.setup_op("insert", lambda: self.store.insert(sp.read.parquet(src)))
        c.setup_op("index", lambda: self.store.index("o_orderkey", "hash"))
        self.view = c.setup_op(
            "view",
            lambda: MatView.create(
                sp,
                os.path.join(c.work, "orders_view"),
                self.store,
                ["o_orderstatus"],
                [("n", "count", None), ("total", "sum", "o_totalprice"), ("mean", "avg", "o_totalprice")],
            ),
        )
        self.warm_up()
        self.inserted = 0

    def write_round(self, size: int, defer: bool, record: bool) -> tuple[list[int], int]:
        """Insert ``size`` held-out rows, delete one key, refresh the view.
        Returns the inserted keys and the deleted one."""
        from shortcut_spark import eq

        c, st = self.ctx, self.store
        if len(self.held) < size:
            raise RuntimeError("held-out keys exhausted; lower the run length or raise BASE_ROWS")
        keys, self.held = self.held[:size], self.held[size:]
        self.round += 1
        src = os.path.join(c.work, "batches", f"b{self.round}.parquet")
        os.makedirs(os.path.dirname(src), exist_ok=True)
        pq.write_table(self.table.take(np.array(keys)), src)
        batch = c.spark.read.parquet(src)

        n, ok = c.timed("insert", lambda: st.insert(batch), record)
        if ok:
            self.live.update(keys)
            self.inserted += size
            c.check("insert count", n == size)

        victim = self.victims.pop()
        kind = "tombstone" if defer else "delete"
        n, ok = c.timed(kind, lambda: st.delete([eq("o_orderkey", victim)], defer=defer), record)
        if ok:
            self.live.discard(victim)
            c.check(f"{kind} count", n == 1 and len(st) == len(self.live))

        _, ok = c.timed("refresh", self.view.refresh, record)
        if ok:
            c.refreshes.append((self.view.last_refresh_jobs, self.view.last_refresh_scanned_base))
        return keys, victim

    def read_back(self, keys: list[int], victim: int, record: bool) -> None:
        """Read one round's writes: the deleted key, each of ``FIND_KEYS``
        inserted keys, a key range around an inserted key, and the inserted
        keys as one batch (12 finds a round, 24 a cycle)."""
        from shortcut_spark import between, eq

        c, st, tr, rng = self.ctx, self.store, self.ctx.tracer, self.rng
        probe = [int(k) for k in rng.choice(keys, min(self.FIND_KEYS, len(keys)), replace=False)]
        lo = int(rng.choice(keys))
        hi = lo + self.RANGE_WIDTH - 1
        reads = [("eq", [eq("o_orderkey", victim)], 0)]
        reads += [("eq", [eq("o_orderkey", k)], 1) for k in probe]
        reads.append(("range", [between("o_orderkey", lo, hi)], sum(k in self.live for k in range(lo, hi + 1))))
        for kind, conds, want in reads:

            def find(conds=conds):
                with tr.span("store.find"):
                    df = st.find(conds)
                with tr.span("collect"):
                    return df.collect()

            rows, ok = c.timed(f"find.{kind}", find, record)
            if ok:
                c.check(f"find.{kind} rows", len(rows) == want)
                c.explain(st, conds)

        def find_many():
            with tr.span("store.find_many"):
                df = st.find_many("o_orderkey", probe)
            with tr.span("collect"):
                return df.collect()

        rows, ok = c.timed("find.many", find_many, record)
        if ok:
            c.check("find.many rows", sorted(r.o_orderkey for r in rows) == sorted(probe))

    def compact(self, record: bool) -> None:
        c, st = self.ctx, self.store
        _, ok = c.timed("compact", st.compact, record)
        if ok:
            c.check("compact rows", len(st) == len(self.live) and not st.manifest.tombstones)

    def warm_up(self) -> None:
        """A copy-on-write round, its reads and a compaction, untimed, so
        the loop's first calls do not pay JIT and codegen. Measured on 4
        cores: a cycle's first calls took about 1.3x the later ones, and a
        tombstone's within 0.1 s, so one round of each op is enough."""
        keys, victim = self.write_round(self.cycle_rows // 2, False, record=False)
        self.read_back(keys, victim, record=False)
        self.compact(record=False)

    def cycle(self) -> None:
        """A copy-on-write round and a tombstone round, reads of both rounds'
        writes (all at one version, with the tombstone pending), then a
        compaction."""
        first = int(self.cycle_rows * self.rng.uniform(*self.SPLIT))
        touched = [
            self.write_round(first, False, True),
            self.write_round(self.cycle_rows - first, True, True),
        ]
        for keys, victim in touched:
            self.read_back(keys, victim, True)
        self.compact(True)

    def loop(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        n = 0
        for _ in units(seconds, at_least=1):
            self.cycle()
            n += 1
        return {"wall_s": time.perf_counter() - t0, "units": n, "work": self.inserted}

    def finish(self) -> dict:
        """Final check: the view equals a group-by over the Store, and the
        Store's live count equals the harness's own model."""
        from pyspark.sql import functions as F

        c = self.ctx
        got = {r.o_orderstatus: (r.n, r.total, r.mean) for r in self.view.read().collect()}
        base = self.store.df().groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
        )
        want = {r.o_orderstatus: (r.n, r.total) for r in base.collect()}
        model = {}
        for k in self.live:
            s = str(self.status[k])
            model[s] = model.get(s, 0) + 1
        ok = set(got) == set(want) and all(
            got[s][0] == want[s][0] == model.get(s)
            and math.isclose(got[s][1], want[s][1], rel_tol=1e-9)
            and math.isclose(got[s][2], want[s][1] / want[s][0], rel_tol=1e-9)
            for s in want
        )
        c.check("matview equals group-by", ok and len(self.store) == len(self.live))
        return {"stores": [self.store.path, self.view.path], "tables": [self.store]}


def fingerprint(rows) -> str:
    """Order-insensitive digest of collected rows."""
    return hashlib.sha1("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


class Pipeline:
    """The LLM-data operators over a generated corpus and embedding table.

    Each loop unit is one operator call (built and collected), in a seeded
    order that runs every operator once per block. Every call's output must
    equal, by fingerprint, the output of the same operator in the warm-up
    pass, and the warm-up pass must find the planted verbatim copies."""

    ORIGINALS = 120
    COPY_SHARE = 0.2  # planted copies, half verbatim, half perturbed
    VECTORS = 200
    OPS = (
        "clean_corpus",
        "dup_clusters",
        "sparse_cosine_pairs",
        "minhash_near_dups",
        "lsh_topk",
        "kmeans_exact",
    )
    MIN_BLOCKS = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 40])
        self.want: dict[str, str] = {}

    def setup(self) -> None:
        from shortcut_spark.operators import cluster, dedup, pipeline, similarity, text

        c, sp = self.ctx, self.ctx.spark
        table, cols = datagen.documents(c.seed, max(20, int(self.ORIGINALS * c.scale)), self.COPY_SHARE)
        emb, query = datagen.embeddings(c.seed, max(20, int(self.VECTORS * c.scale)))
        for name, t in (("documents", table), ("embeddings", emb)):
            pq.write_table(t, os.path.join(c.work, f"{name}.parquet"))
        docs = sp.read.parquet(os.path.join(c.work, "documents.parquet"))
        vecs = sp.read.parquet(os.path.join(c.work, "embeddings.parquet"))
        qvec = sp.createDataFrame([([float(x) for x in query],)], "qvec array<float>")
        self.calls = {
            "clean_corpus": lambda: pipeline.clean_corpus(docs),
            "dup_clusters": lambda: dedup.dup_clusters(docs),
            "sparse_cosine_pairs": lambda: text.sparse_cosine_pairs(docs),
            "minhash_near_dups": lambda: dedup.minhash_near_dups(docs, "doc_id", "text"),
            "lsh_topk": lambda: similarity.lsh_topk(vecs, qvec),
            "kmeans_exact": lambda: cluster.kmeans_exact(vecs),
        }
        # verbatim copies, from the generator: (smaller id, larger id)
        text_of = dict(zip(cols["doc_id"].tolist(), cols["text"]))
        by_text: dict[str, list[int]] = {}
        for i, t in text_of.items():
            by_text.setdefault(t, []).append(i)
        self.twins = [tuple(ids) for ids in by_text.values() if len(ids) == 2]
        for op in self.OPS:  # warm-up pass: the reference outputs
            rows = c.setup_op(op, lambda op=op: self.calls[op]().collect())
            self.want[op] = fingerprint(rows)
            if op == "clean_corpus":
                kept = {r.doc_id for r in rows}
                c.check("clean_corpus drops verbatim copies", all(b not in kept for _, b in self.twins))
            elif op == "dup_clusters":
                rep = {r.doc_id: r.cluster_rep for r in rows}
                c.check("dup_clusters joins verbatim copies", all(rep[a] == rep[b] for a, b in self.twins))
            c.check(f"{op} output", len(rows) > 0)

    def loop(self, seconds: float) -> dict:
        block: list[str] = []
        t0 = time.perf_counter()
        n = 0
        for _ in units(seconds, at_least=self.MIN_BLOCKS * len(self.OPS)):
            if not block:
                block = list(self.rng.permutation(self.OPS))
            op = block.pop()
            rows, ok = self.ctx.timed(op, lambda: self.calls[op]().collect())
            if ok:
                self.ctx.check(f"{op} output", fingerprint(rows) == self.want[op])
            n += 1
        return {"wall_s": time.perf_counter() - t0, "units": n, "work": n}

    def finish(self) -> dict:
        return {"stores": [], "tables": []}


WORKLOADS = {"lookup": Lookup, "ingest": Ingest, "pipeline": Pipeline}


def space_amp(ctx: Ctx, finished: dict) -> float:
    """On-disk bytes of the workload's stores (data, postings, manifests,
    retained versions) over the bytes of the live table written once as
    plain parquet; 0 when the workload keeps no store."""
    if not finished["stores"]:
        return 0.0
    plain = 0
    for i, table in enumerate(finished["tables"]):
        out = os.path.join(ctx.work, f"plain{i}")
        table.df().write.parquet(out)
        plain += dir_bytes(out)
    return sum(dir_bytes(p) for p in finished["stores"]) / plain


def summarize(samples: dict) -> dict:
    """Per op kind: sample count, p50 and p90 in ms."""
    return {
        k: {"n": len(v), "p50_ms": statistics.median(v) * 1e3, "p90_ms": quantile(v, 0.9) * 1e3}
        for k, v in sorted(samples.items())
    }
