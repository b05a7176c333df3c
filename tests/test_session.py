"""``scoped_confs`` — the one save/flip/restore mechanism for session
confs — and a guard that keeps conf writes inside ``session.py``."""

import re
from pathlib import Path

import pytest

from shortcut_spark.session import scoped_confs

AQE = "spark.sql.adaptive.enabled"
SHP = "spark.sql.shuffle.partitions"
# a registered conf the session never sets: get(key, None) reads None
UNSET = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
KEYS = (AQE, SHP, UNSET)


def _snapshot(spark):
    return {k: spark.conf.get(k, None) for k in KEYS}


def _exception_inside(spark, before):
    with pytest.raises(RuntimeError, match="inside"):
        with scoped_confs(spark, {AQE: "false", SHP: "3", UNSET: "2MB"}):
            assert _snapshot(spark) == {AQE: "false", SHP: "3", UNSET: "2MB"}
            raise RuntimeError("inside")


def _nested_lifo(spark, before):
    with scoped_confs(spark, {SHP: "3", UNSET: "2MB"}):
        with scoped_confs(spark, {SHP: "5", AQE: "false"}):
            assert _snapshot(spark) == {AQE: "false", SHP: "5", UNSET: "2MB"}
        assert _snapshot(spark) == {AQE: before[AQE], SHP: "3", UNSET: "2MB"}


def _unset_stays_unset(spark, before):
    with scoped_confs(spark, {UNSET: "2MB"}):
        assert spark.conf.get(UNSET) == "2MB"


def _empty_is_noop(spark, before):
    with scoped_confs(spark, {}):
        assert _snapshot(spark) == before


@pytest.mark.parametrize(
    "case", [_exception_inside, _nested_lifo, _unset_stays_unset, _empty_is_noop]
)
def test_scoped_confs_restores_prior_state(spark, case):
    before = _snapshot(spark)
    assert before[UNSET] is None
    case(spark, before)
    assert _snapshot(spark) == before


def test_conf_writes_only_in_session_module():
    """Session confs are global state: every library flip goes through
    ``scoped_confs`` so it is restored on every exit path. A hand-rolled
    ``conf.set`` / ``conf.unset`` anywhere else fails here."""
    root = Path(__file__).resolve().parent.parent / "shortcut_spark"
    # the one sanctioned write: load_fixture's fallback for Spark versions
    # that refuse TIMESTAMP(NANOS) parquet. The returned DataFrame re-reads
    # the file on every action, so the legacy read conf must outlive the
    # call — a scope would restore it before the first action.
    allowed = [
        ("sources/__init__.py", 'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")')
    ]
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "session.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\bconf\.(?:set|unset)\(", line):
                found.append((rel, no, line.strip()))
    stray = [f for f in found if (f[0], f[2]) not in allowed]
    assert not stray, f"conf writes outside session.scoped_confs: {stray}"
    assert len(found) == len(allowed), found
