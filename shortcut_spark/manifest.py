"""Versioned table manifest — the distributed analogue of ``Store``'s
in-memory bookkeeping (``src/lib.rs:55-60``).

The reference keeps ``{cols, rowid, rows: BTreeMap, indices: HashMap}`` in
one struct. At 100 TB the same roles are played by metadata-on-storage,
Iceberg-style:

- ``cols``/schema        → Spark ``StructType`` JSON in the manifest
- ``rowid`` watermark    → monotonic counter, advanced per committed batch
  (never reused after delete — ``src/lib.rs:160-162`` removes rows without
  decrementing the counter; SURVEY §4.3)
- ``rows: BTreeMap``     → the list of live data files, each with its dense
  ``__rowid`` range and row count (files are rowid-range-disjoint)
- ``indices: HashMap``   → ``IndexSpec`` per column (file-granular posting
  parts + rows/ndv stats for the access-path cost model)

Commits are snapshot-isolated: each commit creates ``_manifests/v{N}.json``
exclusively (one writer wins each version; that create is the commit)
and then flips the ``CURRENT`` hint (``os.replace``), which readers roll
forward past if it lags. Readers open a manifest version and
never see partial writes — the analogue of the reference's single-writer
``&mut self`` discipline (``src/lib.rs:140,178``) with multi-reader
snapshots for free. On a real object store the exclusive create would be
a conditional PUT; the layout is unchanged.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import types as T

from .idx import IndexSpec

__all__ = ["DataFile", "Manifest", "PartedFileList", "MANIFEST_PART_SIZE"]

# above this many data files, commit() splits the file list into JSON
# parts with aggregated per-part column stats, and load() returns a lazy
# PartedFileList — the Iceberg manifest-list shape SCALE.md:12-14 names
# for millions of files. Reads that prune (the hot path) then open only
# the parts whose aggregate stats survive, never the full list.
MANIFEST_PART_SIZE = 8192


@dataclass
class DataFile:
    """One immutable parquet data file with its dense rowid range and
    per-column min/max (from the parquet footer — free at registration).

    ``stats`` maps column → [min, max] for primitive int/float/string
    columns; the driver-side planner prunes files with it before any Spark
    job runs (the 100 TB analogue is Iceberg manifest column stats)."""

    id: int
    path: str
    rows: int
    min_rowid: int
    max_rowid: int
    stats: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "path": self.path,
            "rows": self.rows,
            "min_rowid": self.min_rowid,
            "max_rowid": self.max_rowid,
            "stats": self.stats,
        }

    @classmethod
    def from_json(cls, d: dict) -> "DataFile":
        return cls(
            d["id"], d["path"], d["rows"], d["min_rowid"], d["max_rowid"], d.get("stats", {})
        )


def _agg_part_stats(chunk: list[DataFile]) -> dict:
    """Column → [min, max] over a part's files — the part-level prune
    bound. A column is included only when EVERY file in the chunk has
    comparable non-null stats for it (a missing per-file bound means the
    part-level bound is unknown → the part must always survive pruning
    on that column, which omitting achieves)."""
    out: dict = {}
    cols = set()
    for f in chunk:
        cols.update(f.stats.keys())
    for c in cols:
        sts = [f.stats.get(c) for f in chunk]
        if any(s is None or s[0] is None or s[1] is None for s in sts):
            continue
        try:
            out[c] = [min(s[0] for s in sts), max(s[1] for s in sts)]
        except TypeError:
            continue
    return out


class PartedFileList:
    """Lazy list of :class:`DataFile` backed by manifest part files.

    Sequence-shaped enough for every ``Store`` access pattern (len /
    bool / iter / index / append); full iteration materializes all parts
    (and caches them), while the prune fast path in
    ``Store._stats_prune`` reads ONLY the parts whose aggregate stats
    survive — ``part_stubs`` exposes each part as a synthetic DataFile
    so the same ``_file_may_match`` logic prunes at part granularity.
    ``len()`` and the stubs never touch part files. Appends land in
    ``tail`` (re-partitioned at the next commit)."""

    def __init__(self, mdir: str, parts_meta: list[dict]):
        self._mdir = mdir
        self._meta = parts_meta
        self._cache: dict[int, list[DataFile]] = {}
        self.tail: list[DataFile] = []

    @property
    def n_parts(self) -> int:
        return len(self._meta)

    @property
    def fully_loaded(self) -> bool:
        return len(self._cache) == len(self._meta)

    @property
    def part_stubs(self) -> list[DataFile]:
        return [
            DataFile(
                id=-1 - k,
                path=m["part"],
                rows=m["rows"],
                min_rowid=m["min_rowid"],
                max_rowid=m["max_rowid"],
                stats=m["stats"],
            )
            for k, m in enumerate(self._meta)
        ]

    def part_files(self, k: int) -> list[DataFile]:
        if k not in self._cache:
            with open(os.path.join(self._mdir, self._meta[k]["part"])) as fh:
                self._cache[k] = [DataFile.from_json(d) for d in json.load(fh)]
        return self._cache[k]

    def _all(self) -> list[DataFile]:
        out: list[DataFile] = []
        for k in range(len(self._meta)):
            out.extend(self.part_files(k))
        out.extend(self.tail)
        return out

    def __len__(self) -> int:
        return sum(m["n"] for m in self._meta) + len(self.tail)

    def __bool__(self) -> bool:
        return len(self) > 0

    def __iter__(self):
        return iter(self._all())

    def __getitem__(self, i):
        return self._all()[i]

    def append(self, f: DataFile) -> None:
        self.tail.append(f)

    def sum_rows(self) -> int:
        """Total rows without opening any part (meta-only)."""
        return sum(m["rows"] for m in self._meta) + sum(f.rows for f in self.tail)


@dataclass
class Manifest:
    schema_json: str
    rowid: int = 0  # autoincrement watermark (src/lib.rs:57,186)
    next_file_id: int = 0
    version: int = 0
    files: list[DataFile] = field(default_factory=list)
    indices: dict[str, IndexSpec] = field(default_factory=dict)
    # free-form table properties committed atomically with the snapshot —
    # e.g. the streaming ingestion epoch (exactly-once replay marker must
    # flip in the SAME commit as the data it covers)
    props: dict = field(default_factory=dict)
    # merge-on-read delete state: parquet dirs of tombstoned __rowid values
    # (reads anti-join them; compact materializes and clears). INVARIANT:
    # every tombstoned rowid lies inside some live data file's rowid range
    # — copy-on-write paths consolidate the tombstone set when they retire
    # files, so ``tombstone_rows`` stays an exact live-row correction.
    tombstones: list[str] = field(default_factory=list)
    tombstone_rows: int = 0
    # wall-clock commit instant (epoch seconds), stamped by commit();
    # None only on never-committed in-memory manifests
    committed_at: float | None = None
    # CHANGE DATA FEED record (r12): the parquet dirs holding the FULL
    # ROWS this version's commit deleted (the Delta-CDF shape — deletes
    # captured at write time, where the mutation already materializes
    # its victims). [] = the commit deleted nothing (append, compact,
    # index build); None = the commit's deletes are NOT changelogged
    # (restore, merge victims, apply_changes, pre-CDF manifests) and a
    # CDC window crossing it must fall back to snapshot diffing.
    # ``cdf_deletes`` is the COMMITTED record loaded from disk;
    # ``pending_cdf`` is the in-memory staging the next commit() will
    # persist (and then reset to the no-deletes default).
    cdf_deletes: list | None = None
    pending_cdf: list | None = field(default_factory=list)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    @property
    def colnames(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    @property
    def total_rows(self) -> int:
        if isinstance(self.files, PartedFileList):
            return self.files.sum_rows()
        return sum(f.rows for f in self.files)

    @property
    def live_rows(self) -> int:
        return self.total_rows - self.tombstone_rows

    def to_json_meta(self) -> dict:
        """Everything except the file list — the commit fast path for a
        PartedFileList must not materialize every part just to throw the
        result away (that would re-read O(files) JSON per commit)."""
        return {
            "format_version": 1,
            "schema": json.loads(self.schema_json),
            "rowid": self.rowid,
            "next_file_id": self.next_file_id,
            "version": self.version,
            "files": [],
            "indices": {c: s.to_json() for c, s in self.indices.items()},
            "props": dict(self.props),
            "tombstones": list(self.tombstones),
            "tombstone_rows": self.tombstone_rows,
            "committed_at": self.committed_at,
            "cdf_deletes": (
                None if self.cdf_deletes is None else list(self.cdf_deletes)
            ),
        }

    def to_json(self) -> dict:
        d = self.to_json_meta()
        d["files"] = [f.to_json() for f in self.files]
        return d

    @classmethod
    def from_json(cls, d: dict, parts_dir: str | None = None) -> "Manifest":
        if d.get("file_parts"):
            if parts_dir is None:
                raise ValueError(
                    "manifest has partitioned file lists; load it via "
                    "Manifest.load so the parts directory is known"
                )
            files: list = PartedFileList(parts_dir, d["file_parts"])
            # root-level "files" beside file_parts is the unpartitioned
            # TAIL (appends since the last part split) — load it eagerly,
            # it is < MANIFEST_PART_SIZE by construction
            files.tail = [DataFile.from_json(f) for f in d.get("files", [])]
        else:
            files = [DataFile.from_json(f) for f in d["files"]]
        return cls(
            schema_json=json.dumps(d["schema"]),
            rowid=d["rowid"],
            next_file_id=d["next_file_id"],
            version=d["version"],
            files=files,
            indices={c: IndexSpec.from_json(s) for c, s in d["indices"].items()},
            props=dict(d.get("props", {})),
            tombstones=list(d.get("tombstones", [])),
            tombstone_rows=int(d.get("tombstone_rows", 0)),
            committed_at=d.get("committed_at"),
            # absent key (pre-CDF manifest) and explicit null both mean
            # "not changelogged"; staging always starts clean on load
            cdf_deletes=d.get("cdf_deletes"),
            pending_cdf=[],
        )

    # -- storage ------------------------------------------------------------

    @staticmethod
    def _dir(table_path: str) -> str:
        return os.path.join(table_path, "_manifests")

    @classmethod
    def load(cls, table_path: str, version: int | None = None) -> "Manifest":
        mdir = cls._dir(table_path)
        if version is None:
            version = cls.head(table_path)
        with open(os.path.join(mdir, f"v{version}.json")) as fh:
            return cls.from_json(json.load(fh), parts_dir=mdir)

    @classmethod
    def head(cls, table_path: str) -> int:
        """The latest committed version (0 before the first commit): the
        ``CURRENT`` hint rolled forward over every ``v<N>.json`` published
        after it. A commit IS its exclusive version-file create, so a
        ``CURRENT`` write that failed or was cut off after it only lags
        (and if ``vacuum`` has since removed the version it names, the
        listing decides)."""
        mdir = cls._dir(table_path)
        try:
            with open(os.path.join(mdir, "CURRENT")) as fh:
                version = int(fh.read().strip())
        except FileNotFoundError:
            version = 0
        if version and not os.path.exists(os.path.join(mdir, f"v{version}.json")):
            version = max(cls.versions(table_path), default=0)
        while os.path.exists(os.path.join(mdir, f"v{version + 1}.json")):
            version += 1
        return version

    @classmethod
    def versions(cls, table_path: str) -> list[int]:
        """Retained version numbers, ascending: exactly the
        ``v<N>.json`` files — never part files or tmp files."""
        names = os.listdir(cls._dir(table_path))
        return sorted(
            int(m.group(1)) for m in (re.fullmatch(r"v(\d+)\.json", f) for f in names) if m
        )

    @classmethod
    def version_as_of(cls, table_path: str, ts: float) -> int:
        """Largest still-retained version committed at or before epoch
        ``ts`` (AS OF TIMESTAMP time travel). Driver-side scan of the
        manifest directory — O(retained versions), bounded by vacuum.
        Manifests from before the ``committed_at`` field fall back to
        file mtime. Raises if every retained snapshot is newer than
        ``ts`` (the history needed has been vacuumed or never existed)."""
        mdir = cls._dir(table_path)
        best = None
        for v in cls.versions(table_path):
            name = os.path.join(mdir, f"v{v}.json")
            with open(name) as fh:
                at = json.load(fh).get("committed_at")
            if at is None:
                at = os.path.getmtime(name)
            if at <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot of {table_path!r} at or before {ts} is retained"
            )
        return best

    def commit(self, table_path: str) -> "Manifest":
        """Publish the next manifest version.

        Optimistic single-writer commit (the reference's ``&mut self``
        exclusivity, enforced at the storage layer): a :meth:`head` that
        moved past the version this manifest was loaded at fails fast,
        and ``v{N+1}.json`` is created EXCLUSIVELY — a hard link from
        this writer's own tmp file, the local analogue of a conditional
        PUT — so of two writers that both passed the check exactly one
        publishes and the other raises instead of overwriting it. Every
        name a commit writes carries a writer-unique token.

        That exclusive create is the one commit point. The handle
        changes right after it and never before: a failed commit leaves
        ``version`` and the staged state as they were, the same handle
        can retry, and "version moved" means "committed". ``CURRENT`` is
        flipped afterwards as a hint only (:meth:`head` rolls forward
        past a stale one), so a failed flip loses and wedges nothing."""
        mdir = self._dir(table_path)
        on_disk = self.head(table_path)
        if on_disk != self.version:
            raise RuntimeError(
                f"concurrent commit detected: latest is v{on_disk}, "
                f"this writer loaded v{self.version}"
            )
        version = self.version + 1
        token = uuid.uuid4().hex[:8]
        os.makedirs(mdir, exist_ok=True)

        def _write_part(chunk: list, k: int) -> dict:
            name = f"v{version}-files-p{k}-{token}.json"
            with open(os.path.join(mdir, name), "w") as fh:
                json.dump([f.to_json() for f in chunk], fh)
            return {
                "part": name,
                "n": len(chunk),
                "rows": sum(f.rows for f in chunk),
                "min_rowid": min(f.min_rowid for f in chunk),
                "max_rowid": max(f.max_rowid for f in chunk),
                "stats": _agg_part_stats(chunk),
            }

        parted = isinstance(self.files, PartedFileList)
        if parted:
            # Iceberg-style PART REUSE — the append-only fast path (any
            # mutation materializes `files` to a plain list and takes the
            # full-split branch below): existing parts are referenced
            # VERBATIM (no load, no rewrite — commit cost is O(tail +
            # parts-meta), not O(files)); only tail chunks that reached
            # MANIFEST_PART_SIZE become new parts, and the remainder
            # persists as the root-level "files" tail.
            d = self.to_json_meta()
            parts_meta = list(self.files._meta)
            tail = list(self.files.tail)
            while len(tail) >= MANIFEST_PART_SIZE:
                chunk, tail = tail[:MANIFEST_PART_SIZE], tail[MANIFEST_PART_SIZE:]
                parts_meta.append(_write_part(chunk, len(parts_meta)))
            d["files"] = [f.to_json() for f in tail]
            d["file_parts"] = parts_meta
        else:
            d = self.to_json()
            if len(d["files"]) > MANIFEST_PART_SIZE:
                # Iceberg-manifest-list shape: split the file list into
                # JSON parts with aggregated per-part stats; the root
                # manifest stays O(parts) and reads prune at part
                # granularity before opening any part. This full split
                # runs on the FIRST threshold crossing and after
                # mutations (which materialize the list); pure appends
                # take the reuse branch above.
                all_files = list(self.files)
                parts_meta = []
                for k in range(0, len(all_files), MANIFEST_PART_SIZE):
                    chunk = all_files[k : k + MANIFEST_PART_SIZE]
                    parts_meta.append(_write_part(chunk, k // MANIFEST_PART_SIZE))
                d["files"] = []
                d["file_parts"] = parts_meta
        d["version"] = version
        d["committed_at"] = time.time()
        # the version being written records the deletes ITS commit staged
        # (pending_cdf), not the predecessor's record that to_json_meta
        # carries; staging then resets to the no-deletes default so an
        # un-staged follow-up commit can never inherit a changelog it did
        # not produce (which would surface phantom deletes in changes())
        d["cdf_deletes"] = (
            None if self.pending_cdf is None else list(self.pending_cdf)
        )
        mpath = os.path.join(mdir, f"v{version}.json")
        tmp = os.path.join(mdir, f".v{version}.json.{token}.tmp")
        try:
            with open(tmp, "w") as fh:
                json.dump(d, fh, indent=1)
            os.link(tmp, mpath)
        except FileExistsError:
            raise RuntimeError(
                f"concurrent commit detected: v{version} was published by "
                f"another writer, this writer loaded v{self.version}"
            ) from None
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        self.version = version
        self.committed_at = d["committed_at"]
        self.cdf_deletes = d["cdf_deletes"]
        self.pending_cdf = []
        if parted:
            self.files._meta = parts_meta
            self.files.tail = tail
        cur_tmp = os.path.join(mdir, f".CURRENT.{token}.tmp")
        try:
            with open(cur_tmp, "w") as fh:
                fh.write(str(version))
            os.replace(cur_tmp, os.path.join(mdir, "CURRENT"))
        except OSError:
            pass  # the commit stands; head() rolls forward past the hint
        return self
