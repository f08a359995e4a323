"""The invocation-scoped staging primitive (``session.staged``) and the
rule that every persist, temp view and conf change in the package goes
through it."""

from __future__ import annotations

import os
import re

import pytest
from pyspark import StorageLevel

from tests.conftest import REPO_ROOT


def test_staged_undoes_everything_on_raise(spark):
    from iceberg_workshop_spark.session import staged

    unset_key = "spark.iws.test.staged_unset"
    set_key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    df = spark.range(10)
    with pytest.raises(RuntimeError, match="boom"):
        with staged(spark) as st:
            st.persist(df).count()
            st.view("iws_test_staged", df)
            st.conf(unset_key, "x")
            st.conf(set_key, "3")
            st.conf(set_key, "5")  # a second change restores the first prior
            assert df.storageLevel != StorageLevel.NONE
            assert spark.catalog.tableExists("iws_test_staged")
            assert spark.conf.get(unset_key) == "x"
            assert spark.conf.get(set_key) == "5"
            raise RuntimeError("boom")
    assert df.storageLevel == StorageLevel.NONE
    assert not spark.catalog.tableExists("iws_test_staged")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(set_key) == prior


def test_staged_view_lives_in_the_frames_session(spark):
    from iceberg_workshop_spark.session import staged

    other = spark.newSession()
    df = other.range(3)
    with staged(spark) as st:
        st.view("iws_test_other", df)
        assert other.catalog.tableExists("iws_test_other")
        assert not spark.catalog.tableExists("iws_test_other")
    assert not other.catalog.tableExists("iws_test_other")


# Session state the package may still change directly: idempotent pins
# that every session this repo builds already has (session.get_spark),
# re-applied for a session the caller brings.
_ALLOWED = {
    ("sources/tables.py", 'spark.conf.set(key, "UTC")'):
        "ensure_utc_session: load()'s and _events_stream's UTC pin",
    ("sources/tables.py", 'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")'):
        "load(): events.parquet needs nanosAsLong to be readable",
    ("streaming/stateful.py", 'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")'):
        "_events_stream: the stream's schema probe needs nanosAsLong",
}

_DIRECT = re.compile(
    r"\.cache\(\)|\.unpersist\(|create(?:OrReplace)?(?:Global)?TempView"
    r"|registerTempTable|conf\.set\(|conf\.unset\(|\breleases\b"
)


def test_session_state_changes_go_through_staged():
    pkg = os.path.join(REPO_ROOT, "iceberg_workshop_spark")
    found = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            rel = os.path.relpath(os.path.join(root, fn), pkg)
            if not fn.endswith(".py") or rel == "session.py":
                continue
            with open(os.path.join(root, fn)) as fh:
                for no, line in enumerate(fh, 1):
                    direct = _DIRECT.search(line) or any(
                        m.group(1) != "st"
                        for m in re.finditer(r"(\w*)\.persist\(", line)
                    )
                    if direct and (rel, line.strip()) not in _ALLOWED:
                        found.append(f"{rel}:{no}: {line.strip()}")
    assert not found, (
        "persist/view/conf changes outside session.staged:\n" + "\n".join(found)
    )
