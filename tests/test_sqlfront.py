"""IceSqlSession — the workshop's SQL text routed to the icetbl API.

The four registered q_sql_* queries cover the verbatim workshop
statements via oracle parity; these tests cover the remaining parser
surfaces: TRUNCATE, FOR SYSTEM_VERSION AS OF, numeric-id rollback, and
the plain-SELECT fallthrough with table-name rewriting.
"""

from __future__ import annotations

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession


@pytest.fixture
def sess(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, name string"
    )
    tbl = IceTable.create_as(spark, str(tmp_path / "t"), df)
    s = IceSqlSession(spark)
    s.register_table("db.t", tbl)
    return s, tbl


def test_fallthrough_select_rewrites_table_names(sess):
    s, _ = sess
    rows = s.sql("SELECT name FROM db.t WHERE id >= 2 ORDER BY id").collect()
    assert [r.name for r in rows] == ["b", "c"]


def test_truncate_statement(sess):
    s, tbl = sess
    assert s.sql("TRUNCATE TABLE db.t") is None
    assert tbl.read().count() == 0


def test_system_version_as_of_and_numeric_rollback(sess):
    s, tbl = sess
    s1 = tbl.meta.current_snapshot_id
    s.sql("INSERT INTO db.t VALUES (4, 'd')")
    assert s.sql("SELECT * FROM db.t").count() == 4
    old = s.sql(f"SELECT * FROM db.t FOR SYSTEM_VERSION AS OF '{s1}'")
    assert old.count() == 3
    s.sql(f"ALTER TABLE db.t EXECUTE rollback({s1})")
    assert tbl.read().count() == 3


def test_delete_statement_condition_passthrough(sess):
    s, tbl = sess
    s.sql("DELETE FROM db.t WHERE name = \"b\"")
    assert sorted(r.id for r in tbl.read().collect()) == [1, 3]


def test_merge_updates_and_inserts(sess, spark):
    s, tbl = sess
    src = spark.createDataFrame([(2, "B2"), (9, "I9")], "id int, name string")
    s.register_view("staging.src", src)
    s.sql(
        """
        MERGE INTO db.t AS target
        USING (SELECT id, name FROM staging.src) AS source
        ON id = source.id
        WHEN MATCHED THEN UPDATE SET id=source.id, name=source.name
        WHEN NOT MATCHED THEN INSERT VALUES (source.id, source.name)
        """
    )
    got = {(r.id, r.name) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (9, "I9")}


def test_unregistered_table_raises(sess):
    s, _ = sess
    with pytest.raises(KeyError):
        s.sql("DELETE FROM nope.t WHERE 1=1")


def test_simple_where_select_prunes_files(spark, tmp_path):
    """A plain SQL SELECT with a partition predicate must reach the
    planner as a pruned scan — 1 of N files, the reference's Impala
    showcase — while answering exactly (full WHERE re-runs in Spark)."""
    s = IceSqlSession(spark)
    s.sql("CREATE DATABASE db2")
    s.sql(
        """CREATE EXTERNAL TABLE db2.orders (
        order_id BIGINT, order_ts TIMESTAMP)
        PARTITIONED BY (order_date DATE) STORED BY ICEBERG STORED AS PARQUET"""
    )
    for d in ("2022-01-01", "2022-01-02", "2022-01-03"):
        s.sql(f'INSERT INTO db2.orders VALUES (1, "{d} 00:00:00", "{d}")')
    tbl = s.tables["db2.orders"]
    rows = s.sql(
        'SELECT * FROM db2.orders WHERE order_date = "2022-01-02"'
    ).collect()
    assert len(rows) == 1 and str(rows[0].order_date) == "2022-01-02"
    rep = tbl.last_scan_report
    assert rep["files_scanned"] == 1 and rep["files_total"] == 3


def test_unprunable_where_still_answers(spark, tmp_path):
    """OR / function conjuncts bail out of pruning but the query must
    still answer correctly from the full read."""
    s = IceSqlSession(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    from iceberg_workshop_spark.icetbl import IceTable

    s.register_table("db3.t", IceTable.create_as(spark, str(tmp_path / "t3"), df))
    rows = s.sql(
        "SELECT * FROM db3.t WHERE id = 1 OR upper(name) = 'B' ORDER BY id"
    ).collect()
    assert [r.id for r in rows] == [1, 2]


def test_update_statement(sess):
    s, tbl = sess
    s.sql("UPDATE db.t SET name = 'Z' WHERE id >= 2")
    got = {(r.id, r.name) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "Z"), (3, "Z")}


def test_delete_where_prunes_candidates(spark):
    """A partition-predicate DELETE must discover candidates from the
    pruned file set (files_total counts all, but only the matching
    partition's file rewrites and the others carry by identity)."""
    s = IceSqlSession(spark)
    s.sql("CREATE DATABASE db4")
    s.sql(
        """CREATE EXTERNAL TABLE db4.t (id BIGINT)
        PARTITIONED BY (d DATE) STORED BY ICEBERG STORED AS PARQUET"""
    )
    for i, d in enumerate(("2022-01-01", "2022-01-02", "2022-01-03")):
        s.sql(f'INSERT INTO db4.t VALUES ({i}, "{d}")')
    s.sql('DELETE FROM db4.t WHERE d = "2022-01-02"')
    tbl = s.tables["db4.t"]
    assert sorted(str(r.d) for r in tbl.read().collect()) == [
        "2022-01-01",
        "2022-01-03",
    ]
    # the two surviving partitions' files must be the ORIGINAL file
    # objects (carried by identity, never rewritten)
    parts = {f["partition"]["d"] for f in tbl.meta.current_files()}
    assert parts == {"2022-01-01", "2022-01-03"}


# -- review-fix regressions -------------------------------------------


def test_column_to_column_predicate_not_treated_as_literal(spark, tmp_path):
    """`WHERE a = b` compares two columns; it must neither prune files
    on the bogus literal 'b' nor filter rows against it."""
    from iceberg_workshop_spark.icetbl import IceTable, spec_field

    df = spark.createDataFrame(
        [("JFK", "JFK"), ("JFK", "LAX"), ("LAX", "LAX")], "origin string, dest string"
    )
    s = IceSqlSession(spark)
    s.register_table(
        "db.r",
        IceTable.create_as(
            spark, str(tmp_path / "r"), df,
            partition_spec=[spec_field("origin", "identity")],
        ),
    )
    rows = s.sql("SELECT * FROM db.r WHERE origin = dest").collect()
    assert len(rows) == 2


def test_numeric_identity_partition_range_prunes_numerically(spark, tmp_path):
    """month <= 10 on an int-partitioned table must keep months 2 and 9
    ('2' > '10' lexicographically — the bug was string comparison)."""
    from iceberg_workshop_spark.icetbl import IceTable, spec_field

    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate([1, 2, 9, 10, 11])], "id int, month int"
    )
    s = IceSqlSession(spark)
    tbl = IceTable.create_as(
        spark, str(tmp_path / "m"), df.repartition("month"),
        partition_spec=[spec_field("month", "identity")],
    )
    s.register_table("db.m", tbl)
    months = sorted(r.month for r in s.sql("SELECT * FROM db.m WHERE month <= 10").collect())
    assert months == [1, 2, 9, 10]
    s.sql("DELETE FROM db.m WHERE month >= 2")
    assert sorted(r.month for r in tbl.read().collect()) == [1]


def test_quoted_numeric_literal_on_int_column_does_not_crash_dml(spark, tmp_path):
    from iceberg_workshop_spark.icetbl import IceTable

    df = spark.range(10).selectExpr("id", "cast(id as string) v")
    s = IceSqlSession(spark)
    tbl = IceTable.create_as(spark, str(tmp_path / "q"), df.repartitionByRange(3, "id"))
    s.register_table("db.q", tbl)
    s.sql('DELETE FROM db.q WHERE id = "5"')
    assert tbl.read().count() == 9


def test_metadata_views_on_empty_table(spark, tmp_path):
    from iceberg_workshop_spark.icetbl import IceTable

    s = IceSqlSession(spark)
    t = IceTable.create(spark, str(tmp_path / "e"), "a int")
    s.register_table("db.e", t)
    assert s.sql("SELECT * FROM db.e.files").count() == 0
    assert s.sql("SELECT * FROM db.e.partitions").count() == 0
    # a never-written table has no snapshots — must be empty, not crash
    assert s.sql("SELECT * FROM db.e.snapshots").count() == 0


def test_pruned_select_respects_mor_deletes(spark, tmp_path):
    from iceberg_workshop_spark.icetbl import IceTable

    df = spark.range(100).selectExpr("id as k", "cast(id as string) v")
    s = IceSqlSession(spark)
    tbl = IceTable.create_as(spark, str(tmp_path / "mor"), df)
    s.register_table("db.mor", tbl)
    tbl.delete_where_mor("k >= 90", keys=["k"])
    rows = s.sql("SELECT * FROM db.mor WHERE k >= 80").collect()
    assert sorted(r.k for r in rows) == list(range(80, 90))


def test_merge_non_equi_on_raises(sess, spark):
    s, _ = sess
    src = spark.createDataFrame([(2, "B")], "id int, name string")
    s.register_view("staging.s2", src)
    with pytest.raises(ValueError, match="equi-join"):
        s.sql(
            """MERGE INTO db.t AS target
            USING (SELECT * FROM staging.s2) AS source
            ON id = source.id AND name >= source.name
            WHEN MATCHED THEN UPDATE SET name=source.name
            WHEN NOT MATCHED THEN INSERT VALUES (source.id, source.name)"""
        )


def test_drop_database_cascade_removes_views(spark):
    s = IceSqlSession(spark)
    s.register_view("staging.v", spark.range(3).toDF("id"))
    s.sql("DROP DATABASE IF EXISTS staging CASCADE")
    with pytest.raises(Exception):
        s.sql("SELECT * FROM staging.v").collect()


def test_rewrite_leaves_string_literals_alone(sess, spark):
    s, tbl = sess
    rows = s.sql("SELECT * FROM db.t WHERE name <> 'db.t'").collect()
    assert len(rows) == 3  # literal 'db.t' must NOT become 'db__t'


def test_refs_view_shows_stored_ref_kind(sess):
    # Refs persist as {"snapshot_id":..., "type": kind}; the .refs
    # metadata view must surface that key, not a nonexistent "kind".
    s, tbl = sess
    tbl.create_tag("v1")
    tbl.create_branch("audit")
    rows = {r.name: (r.kind, r.snapshot_id) for r in s.sql(
        "SELECT * FROM db.t.refs"
    ).collect()}
    assert rows["v1"] == ("tag", tbl.meta.current_snapshot_id)
    assert rows["audit"][0] == "branch"


def test_create_if_not_exists_is_noop_for_existing(sess):
    s, tbl = sess
    before = s.sql("SELECT * FROM db.t").count()
    s.sql("CREATE TABLE IF NOT EXISTS db.t (id INT, name STRING)")
    assert s.tables["db.t"] is tbl  # not rebound to a fresh table
    assert s.sql("SELECT * FROM db.t").count() == before
    # Without the flag, re-creating still rebinds (CREATE TABLE on an
    # existing name is the caller's explicit ask).
    s.sql("CREATE TABLE db.t2 (id INT)")
    assert "db.t2" in s.tables


def test_merge_insert_arity_mismatch_raises(sess, spark):
    s, _ = sess
    src = spark.createDataFrame([(9, "I9")], "id int, name string")
    s.register_view("staging.src2", src)
    with pytest.raises(ValueError, match="width"):
        s.sql(
            """
            MERGE INTO db.t AS target
            USING (SELECT id, name FROM staging.src2) AS source
            ON id = source.id
            WHEN MATCHED THEN UPDATE SET name=source.name
            WHEN NOT MATCHED THEN INSERT VALUES (source.id)
            """
        )


def test_update_set_literal_containing_where(sess):
    # The word WHERE inside a string literal must not split the SET
    # clause (quote-aware scan, not a lazy regex group).
    s, tbl = sess
    s.sql("UPDATE db.t SET name = 'x WHERE y' WHERE id = 2")
    got = {r.id: r.name for r in tbl.read().collect()}
    assert got == {1: "a", 2: "x WHERE y", 3: "c"}
    # And an UPDATE with no WHERE clause at all still hits every row.
    s.sql("UPDATE db.t SET name = 'z'")
    assert {r.name for r in tbl.read().collect()} == {"z"}


def test_or_where_select_prunes_as_interval_union(spark):
    """OR predicates prune too: a file survives only if SOME disjunct's
    interval intersects it (q_filter_q19_shape parity for the SQL
    surface) — and answers stay exact."""
    s = IceSqlSession(spark)
    s.sql(
        """CREATE TABLE db3.orders (
        order_id BIGINT, order_ts TIMESTAMP)
        PARTITIONED BY (order_date DATE) STORED BY ICEBERG STORED AS PARQUET"""
    )
    for i, d in enumerate(("2022-01-01", "2022-01-02", "2022-01-03", "2022-01-04")):
        s.sql(f'INSERT INTO db3.orders VALUES ({i}, "{d} 00:00:00", "{d}")')
    tbl = s.tables["db3.orders"]

    rows = s.sql(
        "SELECT * FROM db3.orders WHERE "
        "order_date = '2022-01-01' OR order_date = '2022-01-04'"
    ).collect()
    assert sorted(r.order_id for r in rows) == [0, 3]
    rep = tbl.last_scan_report
    assert rep["files_scanned"] == 2 and rep["files_total"] == 4

    # IN-list expands to equality disjuncts and prunes identically.
    rows = s.sql(
        "SELECT * FROM db3.orders WHERE order_date IN ('2022-01-02', '2022-01-03')"
    ).collect()
    assert sorted(r.order_id for r in rows) == [1, 2]
    rep = tbl.last_scan_report
    assert rep["files_scanned"] == 2 and rep["files_total"] == 4

    # Conjunct alongside an OR group: cross-product DNF still prunes.
    rows = s.sql(
        "SELECT * FROM db3.orders WHERE "
        "(order_date = '2022-01-01' OR order_date = '2022-01-02') "
        "AND order_id >= 1"
    ).collect()
    assert [r.order_id for r in rows] == [1]
    rep = tbl.last_scan_report
    # date disjuncts keep 2 files; the order_id >= 1 conjunct then
    # stats-prunes the 01-01 file (its only row has order_id = 0)
    assert rep["files_scanned"] == 1 and rep["files_total"] == 4


def test_dnf_extraction_soundness_cases(spark):
    from iceberg_workshop_spark.plans.sqlfront import _dnf_from_where

    # OR with an un-analyzable branch poisons the whole disjunction.
    assert _dnf_from_where("order_id = 1 OR upper(name) = 'X'") is None
    # NOT is un-analyzable (interval negation is not an interval).
    assert _dnf_from_where("NOT order_id = 1") is None
    # ...but an un-analyzable conjunct inside AND is just dropped.
    dnf = _dnf_from_where("order_id = 1 AND upper(name) = 'X'")
    assert dnf is not None and len(dnf) == 1 and dnf[0][0].col == "order_id"
    # BETWEEN's AND is not a boolean split point.
    dnf = _dnf_from_where("a BETWEEN 1 AND 5 OR a BETWEEN 10 AND 20")
    assert dnf is not None and len(dnf) == 2 and dnf[0][0].op == "between"
    # A quoted literal containing ' OR ' is data, not a disjunction.
    dnf = _dnf_from_where("name = 'this OR that'")
    assert dnf is not None and dnf[0][0].value == "this OR that"


def test_describe_formatted_and_metadata_log(sess):
    s, tbl = sess
    # plain DESCRIBE: schema rows only
    plain = s.sql("DESCRIBE db.t").collect()
    assert [(r.col_name, r.data_type) for r in plain] == [
        ("id", "int"), ("name", "string")
    ]
    # FORMATTED adds the detailed section the reference reads
    # metadata_location from (interoperability.md:90-103)
    desc = {r.col_name: r.data_type for r in s.sql("DESCRIBE FORMATTED db.t").collect()}
    assert desc["metadata_location"].endswith("v2.json")
    assert desc["current-snapshot-id"] == str(tbl.meta.current_snapshot_id)
    # metadata_log_entries: one row per vN.json, newest is current
    log = s.sql("SELECT * FROM db.t.metadata_log_entries").collect()
    assert [r.version for r in log] == [1, 2]
    assert log[-1].latest_snapshot_id == tbl.meta.current_snapshot_id
    # the pinned-read loop closes: DESCRIBE FORMATTED → load_metadata
    from iceberg_workshop_spark.icetbl import IceTable

    pinned = IceTable.load_metadata(tbl.spark, desc["metadata_location"])
    assert pinned.read().count() == tbl.read().count()


def test_merge_when_matched_delete(sess, spark):
    # Iceberg MERGE grammar: WHEN MATCHED THEN DELETE drops matched
    # target rows; NOT MATCHED still inserts.
    s, tbl = sess
    src = spark.createDataFrame([(2, "x"), (9, "I9")], "id int, name string")
    s.register_view("staging.srcdel", src)
    s.sql(
        """
        MERGE INTO db.t AS target
        USING (SELECT id, name FROM staging.srcdel) AS source
        ON id = source.id
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT VALUES (source.id, source.name)
        """
    )
    got = {(r.id, r.name) for r in tbl.read().collect()}
    assert got == {(1, "a"), (3, "c"), (9, "I9")}


def test_merge_conditional_clauses_first_wins(sess, spark):
    # Conditional matched clauses evaluate in order; first applicable
    # wins; matched rows no clause claims keep their original values.
    s, tbl = sess
    src = spark.createDataFrame(
        [(1, "DEL"), (2, "UPD"), (3, "SKIP")], "id int, name string"
    )
    s.register_view("staging.srcc", src)
    s.sql(
        """
        MERGE INTO db.t AS target
        USING (SELECT id, name FROM staging.srcc) AS source
        ON id = source.id
        WHEN MATCHED AND source.name = 'DEL' THEN DELETE
        WHEN MATCHED AND source.name = 'UPD' THEN UPDATE SET name = source.name
        """
    )
    got = {(r.id, r.name) for r in tbl.read().collect()}
    assert got == {(2, "UPD"), (3, "c")}


def test_merge_unparsed_when_clause_raises(sess):
    s, _ = sess
    with pytest.raises(ValueError, match="unparsed|INSERT"):
        s.sql(
            "MERGE INTO db.t AS t USING (SELECT 1 AS id) AS s ON id = s.id "
            "WHEN NOT MATCHED THEN FROBNICATE"
        )


def test_ref_ddl_and_remove_orphans(sess):
    s, tbl = sess
    s.sql("ALTER TABLE db.t CREATE TAG v1")
    s1 = tbl.meta.current_snapshot_id
    s.sql("INSERT INTO db.t VALUES (4, 'd')")
    s.sql(f"ALTER TABLE db.t CREATE BRANCH audit AS OF VERSION {s1}")
    refs = {r.name: (r.kind, r.snapshot_id) for r in s.sql(
        "SELECT * FROM db.t.refs").collect()}
    assert refs["v1"] == ("tag", s1)
    assert refs["audit"] == ("branch", s1)
    s.sql("ALTER TABLE db.t DROP TAG v1")
    s.sql("ALTER TABLE db.t DROP BRANCH audit")
    assert tbl.meta.refs == {}
    rep = s.sql("CALL system.remove_orphan_files('db.t')").collect()[0]
    assert rep.orphans_found == 0 and rep.orphans_removed == 0


def test_merge_case_when_inside_set_value(sess, spark):
    # CASE WHEN inside a SET value must not be mistaken for a MERGE
    # WHEN clause boundary (clause split is on WHEN [NOT] MATCHED,
    # quote-masked) — the review-found gap-dropping bug.
    s, tbl = sess
    src = spark.createDataFrame([(2, "pos"), (9, "neg")], "id int, name string")
    s.register_view("staging.srccase", src)
    s.sql(
        """
        MERGE INTO db.t AS target
        USING (SELECT id, name FROM staging.srccase) AS source
        ON id = source.id
        WHEN MATCHED THEN UPDATE SET name = CASE WHEN source.name = 'pos' THEN 'P' ELSE 'N' END
        WHEN NOT MATCHED THEN INSERT VALUES (source.id, upper(source.name))
        """
    )
    got = {(r.id, r.name) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "P"), (3, "c"), (9, "NEG")}


def test_between_quoted_literals_still_prune(spark):
    # BETWEEN with quoted date literals must produce a pruning
    # interval (the protection spans are computed on raw text) — the
    # review-found silent full-scan regression.
    from iceberg_workshop_spark.plans.sqlfront import _dnf_from_where

    dnf = _dnf_from_where("d BETWEEN '2022-01-01' AND '2022-01-02'")
    assert dnf is not None and dnf[0][0].op == "between"
    s = IceSqlSession(spark)
    s.sql(
        """CREATE TABLE db6.t (id BIGINT)
        PARTITIONED BY (d DATE) STORED BY ICEBERG STORED AS PARQUET"""
    )
    for i, d in enumerate(("2022-01-01", "2022-01-02", "2022-01-03", "2022-01-04")):
        s.sql(f'INSERT INTO db6.t VALUES ({i}, "{d}")')
    rows = s.sql(
        "SELECT * FROM db6.t WHERE d BETWEEN '2022-01-01' AND '2022-01-02'"
    ).collect()
    assert sorted(r.id for r in rows) == [0, 1]
    rep = s.tables["db6.t"].last_scan_report
    assert rep["files_scanned"] == 2 and rep["files_total"] == 4


def test_call_rollback_and_set_current_snapshot(spark, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "callrb"), "a int")
    t.insert_values([(1,)])
    s1 = t.meta.current_snapshot_id
    t.insert_values([(2,)])
    s = IceSqlSession(spark)
    s.register_table("db.t", t)
    s.sql(f"CALL cat.system.rollback_to_snapshot('db.t', {s1})")
    assert t.read().count() == 1
    s2 = t.meta.snapshots[-1]["snapshot_id"]
    s.sql(f"CALL cat.system.set_current_snapshot(table => 'db.t', snapshot_id => {s2})")
    assert t.read().count() == 2


def test_call_remove_orphans_named_older_than(spark, tmp_path):
    import os

    loc = str(tmp_path / "callorph")
    t = IceTable.create(spark, loc, "a int")
    t.insert_values([(1,)])
    stray = os.path.join(loc, "data", "stray.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"PAR1junkPAR1")
    s = IceSqlSession(spark)
    s.register_table("db.t", t)
    # default 3-day guard: too young to delete
    out = s.sql("CALL cat.system.remove_orphan_files('db.t')").collect()[0]
    assert out["orphans_removed"] == 0 and os.path.exists(stray)
    out = s.sql(
        "CALL cat.system.remove_orphan_files(table => 'db.t', "
        "older_than => TIMESTAMP '2099-01-01 00:00:00')"
    ).collect()[0]
    assert out["orphans_removed"] == 1 and not os.path.exists(stray)
    assert t.read().count() == 1


def test_call_fast_forward_publishes_branch(spark, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "callff"), "a int")
    t.insert_values([(1,)])
    t.create_branch("wap")
    t.append(spark.createDataFrame([(2,)], "a int"), branch="wap")
    assert t.read().count() == 1  # staged row not on main yet
    s = IceSqlSession(spark)
    s.register_table("db.t", t)
    s.sql("CALL cat.system.fast_forward('db.t', 'main', 'wap')")
    assert sorted(r.a for r in t.read().collect()) == [1, 2]
    import pytest as _pt

    with _pt.raises(ValueError):
        s.sql("CALL cat.system.fast_forward('db.t', 'wap', 'main')")


def test_call_changelog_identifier_columns(spark, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "clid"), "k int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    s1 = t.meta.current_snapshot_id
    t.merge_into(
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        on=["k"],
    )
    s = IceSqlSession(spark)
    s.register_table("db.t", t)
    s.sql(
        "CALL c.system.create_changelog_view(table => 'db.t', "
        "changelog_view => 'clv', "
        f"options => map('start-snapshot-id', '{s1}'), "
        "identifier_columns => array('k'))"
    )
    rows = {(r.k, r.v, r._change_type) for r in s.sql("SELECT * FROM clv").collect()}
    assert rows == {
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
        (3, "c", "insert"),
    }


def test_call_expire_retain_last_and_version_as_of_tag(spark, tmp_path):
    from iceberg_workshop_spark.icetbl.meta import now_ms

    t = IceTable.create(spark, str(tmp_path / "exp"), "a int")
    for i in range(5):
        t.insert_values([(i,)])
    t.create_tag("v2", t.meta.snapshots[1]["snapshot_id"])
    s = IceSqlSession(spark)
    s.register_table("db.t", t)
    # tag read through VERSION AS OF
    assert s.sql("SELECT * FROM db.t FOR SYSTEM_VERSION AS OF 'v2'").count() == 2
    out = s.sql(
        "CALL c.system.expire_snapshots(table => 'db.t', "
        f"older_than => {now_ms() + 1000}, retain_last => 3)"
    ).collect()[0]
    final = IceTable.load(spark, str(tmp_path / "exp"))
    # 3 newest ancestors + the (older) tag head survive
    ids = {sn["snapshot_id"] for sn in final.meta.snapshots}
    assert len(ids) == 4
    assert final.meta.refs["v2"]["snapshot_id"] in ids
    assert out["deleted_snapshots"] == 1
    assert final.read().count() == 5


def test_entries_status_survives_parent_expiry(spark, tmp_path):
    # Iceberg persists entry status in manifests: a carried-over file
    # stays EXISTING in .entries even after the snapshot that first
    # referenced it is expired (status stamped at commit time, not
    # derived from a parent diff — ADVICE r3).
    t = IceTable.create(spark, str(tmp_path / "entexp"), "a int")
    t.insert_values([(1,)])          # snap 1: file A ADDED
    t.insert_values([(2,)])          # snap 2: A EXISTING, B ADDED
    t.insert_values([(3,)])          # snap 3: A,B EXISTING, C ADDED
    s = IceSqlSession(spark)
    s.register_table("db.t", t)
    cur = t.meta.current_snapshot_id
    before = {
        r.path: r.status for r in s.sql("SELECT * FROM db.t.entries").collect()
    }
    n_added = sum(1 for v in before.values() if v == 1)
    # only the head commit's writes are ADDED; earlier files EXISTING
    assert 0 < n_added < len(before)
    # expire everything but the head — the ancestry the old derivation
    # walked is gone, but stamped status must not change
    t.expire_snapshots(older_than_ms=2**62, retain_last=1)
    assert [sn["snapshot_id"] for sn in t.meta.snapshots] == [cur]
    after = {
        r.path: r.status for r in s.sql("SELECT * FROM db.t.entries").collect()
    }
    assert after == before


def test_materialized_view_group_death_and_noop_refresh(spark, tmp_path):
    # A group whose maintained COUNT reaches zero disappears from the
    # MV (GROUP BY semantics); a refresh with no source changes is a
    # no-op (no new MV snapshot).
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(10)], "id int, g int, v double"
    )
    t = IceTable.create_as(spark, str(tmp_path / "mvsrc"), df)
    s = IceSqlSession(spark)
    s.register_table("db.src", t)
    s.sql(
        "CREATE MATERIALIZED VIEW db.m AS SELECT g, COUNT(*) AS n, "
        "SUM(CAST(v AS DECIMAL(18,2))) AS sv FROM db.src GROUP BY g"
    )
    assert s.sql("SELECT * FROM db.m").count() == 2
    t.delete_where("g = 1")
    s.sql("REFRESH MATERIALIZED VIEW db.m")
    rows = s.sql("SELECT * FROM db.m").collect()
    assert [r.g for r in rows] == [0]
    mv_tbl = s.tables["db.m"]
    n_snaps = len(mv_tbl.meta.snapshots)
    s.sql("REFRESH MATERIALIZED VIEW db.m")   # source unchanged
    assert len(mv_tbl.meta.snapshots) == n_snaps


def test_materialized_view_rejects_unmaintainable_aggs(spark, tmp_path):
    df = spark.createDataFrame([(1, 1, 1.0)], "id int, g int, v double")
    t = IceTable.create_as(spark, str(tmp_path / "mvbad"), df)
    s = IceSqlSession(spark)
    s.register_table("db.srcb", t)
    with pytest.raises(ValueError, match="COUNT"):
        s.sql(
            "CREATE MATERIALIZED VIEW db.bad AS SELECT g, "
            "SUM(CAST(v AS DECIMAL(18,2))) AS sv FROM db.srcb GROUP BY g"
        )
    with pytest.raises(ValueError, match="select items"):
        s.sql(
            "CREATE MATERIALIZED VIEW db.bad2 AS SELECT g, COUNT(*) AS n, "
            "MAX(v) AS mv FROM db.srcb GROUP BY g"
        )


def test_materialized_view_show_drop_and_time_travel(spark, tmp_path):
    # SHOW lists MVs; the MV table is snapshot-versioned, so time
    # travel to the pre-refresh state works; DROP removes view + data.
    import os

    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(8)], "id int, g int, v double"
    )
    t = IceTable.create_as(spark, str(tmp_path / "mvtt"), df)
    s = IceSqlSession(spark)
    s.register_table("db.srct", t)
    s.sql(
        "CREATE MATERIALIZED VIEW db.mtt AS SELECT g, COUNT(*) AS n, "
        "SUM(CAST(v AS DECIMAL(18,2))) AS sv FROM db.srct GROUP BY g"
    )
    shown = s.sql("SHOW MATERIALIZED VIEWS").collect()
    assert [(r.name, r.source) for r in shown] == [("db.mtt", "db.srct")]
    mv_tbl = s.tables["db.mtt"]
    pre_sid = mv_tbl.meta.current_snapshot_id
    t.delete_where("g = 1")
    s.sql("REFRESH MATERIALIZED VIEW db.mtt")
    assert s.sql("SELECT * FROM db.mtt").count() == 1
    # pre-refresh MV state still queryable by snapshot (audit trail)
    assert mv_tbl.read(snapshot_id=pre_sid).count() == 2
    loc = mv_tbl.meta.location
    s.sql("DROP MATERIALIZED VIEW db.mtt")
    assert "db.mtt" not in s.mviews and "db.mtt" not in s.tables
    assert not os.path.exists(loc)


def test_merge_with_schema_evolution(sess, spark):
    # Source carries a NEW column: the evolution clause adds it to the
    # target (metadata-only); pre-existing rows read NULL, matched and
    # inserted rows carry the source value.
    s, tbl = sess
    src = spark.createDataFrame(
        [(2, "B2", "eu"), (9, "I9", "us")], "id int, name string, region string"
    )
    s.register_view("staging.evo", src)
    s.sql(
        """
        MERGE WITH SCHEMA EVOLUTION INTO db.t AS target
        USING (SELECT id, name, region FROM staging.evo) AS source
        ON id = source.id
        WHEN MATCHED THEN UPDATE SET id=source.id, name=source.name,
          region=source.region
        WHEN NOT MATCHED THEN INSERT VALUES (source.id, source.name,
          source.region)
        """
    )
    got = {(r.id, r.name, r.region) for r in tbl.read().collect()}
    assert got == {
        (1, "a", None),
        (2, "B2", "eu"),
        (3, "c", None),
        (9, "I9", "us"),
    }
    # without the clause, a schema-mismatched source still errors
    src2 = spark.createDataFrame([(5, "x", "zz", 1)], "id int, name string, region string, extra int")
    s.register_view("staging.evo2", src2)
    with pytest.raises(Exception):
        s.sql(
            """
            MERGE INTO db.t AS target
            USING (SELECT * FROM staging.evo2) AS source
            ON id = source.id
            WHEN NOT MATCHED THEN INSERT VALUES (source.id, source.name,
              source.region, source.extra)
            """
        )


def test_snapshots_view_summary_columns(spark, tmp_path):
    # .snapshots reports the per-commit summary diff (added/removed
    # files and records) the way Iceberg persists it.
    t = IceTable.create(spark, str(tmp_path / "snapsum"), "a int")
    t.insert_values([(1,), (2,)])
    t.insert_values([(3,)])
    t.delete_where("a = 1")  # CoW: rewrites the first file
    s = IceSqlSession(spark)
    s.register_table("db.ss", t)
    rows = s.sql(
        "SELECT operation, added_data_files, added_records,"
        " removed_data_files, removed_records FROM db.ss.snapshots"
    ).collect()
    assert [r.operation for r in rows] == ["append", "append", "delete"]
    assert rows[0].added_records == 2 and rows[0].removed_records == 0
    assert rows[1].added_records == 1 and rows[1].removed_data_files == 0
    # the CoW delete swapped out the file holding a=1 (each
    # insert_values row lands in its own file here)
    assert rows[2].removed_data_files == 1 and rows[2].removed_records == 1
    assert rows[2].added_records == 0


def test_delete_on_branch_identifier(sess):
    # Iceberg branch identifier: DELETE FROM db.t.branch_audit stages
    # the CoW delete on the branch; main publishes via fast_forward.
    s, tbl = sess
    tbl.create_branch("audit")
    s.sql("DELETE FROM db.t.branch_audit WHERE id >= 2")
    assert tbl.read().count() == 3
    assert tbl.read(ref="audit").count() == 1
    tbl.fast_forward("audit")
    assert tbl.read().count() == 1


def test_snapshots_summary_survives_parent_expiry(spark, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "snapsum2"), "a int")
    t.insert_values([(i,) for i in range(10)])
    t.insert_values([(99,)])
    t.expire_snapshots(older_than_ms=2**62, retain_last=1)
    s = IceSqlSession(spark)
    s.register_table("db.se", t)
    row = s.sql(
        "SELECT added_records FROM db.se.snapshots"
    ).collect()[-1]
    # the head commit added ONE record; a read-time parent diff would
    # claim 11 once the parent is expired
    assert row.added_records == 1


def test_join_mview_over_snapshotless_source(spark, tmp_path):
    # ADVICE r4: a join MV created while source A had NO snapshot must
    # treat A_old as EMPTY during refresh — reading "snapshot None"
    # resolves to the CURRENT snapshot, which double-counts rows that
    # arrive in both sources after creation (they appear in ΔA⋈B_new
    # AND in A_new⋈ΔB).
    t_a = IceTable.create(spark, str(tmp_path / "mva"), "k int, v int")
    t_b = IceTable.create_as(
        spark,
        str(tmp_path / "mvb"),
        spark.createDataFrame([(1, 10)], "k int, w int"),
    )
    s = IceSqlSession(spark)
    s.register_table("db.a", t_a)
    s.register_table("db.b", t_b)
    s.sql(
        """CREATE MATERIALIZED VIEW db.m AS
           SELECT a.k, COUNT(*) AS n, SUM(CAST(a.v AS DECIMAL(18,2))) AS sv
           FROM db.a a JOIN db.b b ON a.k = b.k
           GROUP BY a.k"""
    )
    assert s.sql("SELECT * FROM db.m").count() == 0
    # both sources change after creation
    t_a.append(spark.createDataFrame([(1, 5), (2, 7)], "k int, v int"))
    t_b.append(spark.createDataFrame([(2, 20)], "k int, w int"))
    s.sql("REFRESH MATERIALIZED VIEW db.m")
    rows = {r.k: (r.n, float(r.sv)) for r in s.sql("SELECT * FROM db.m").collect()}
    # from-scratch truth: k=1 joins once (v=5), k=2 joins once (v=7)
    assert rows == {1: (1, 5.0), 2: (1, 7.0)}


def test_update_statement_routes_by_write_update_mode(spark, tmp_path):
    # write.update.mode=merge-on-read: the UPDATE statement masks old
    # rows with a positional delete and appends updated images — no
    # data-file rewrite.
    t = IceTable.create_as(
        spark,
        str(tmp_path / "updmode"),
        spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k int, v int"
        ),
    )
    before = {f["path"] for f in t.meta.current_files()}
    s = IceSqlSession(spark)
    s.register_table("db.u", t)
    s.sql(
        "ALTER TABLE db.u SET TBLPROPERTIES"
        " ('write.update.mode' = 'merge-on-read')"
    )
    s.sql("UPDATE db.u SET v = v + 1 WHERE k < 3")
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    assert before <= {f["path"] for f in t.meta.files(head)}
    assert any(d.get("kind") == "pos" for d in t.meta.delete_entries(head))
    rows = {r.k: r.v for r in s.sql("SELECT * FROM db.u").collect()}
    assert rows == {i: i * 10 + (1 if i < 3 else 0) for i in range(10)}


def test_qualify_rewrite_forms(spark):
    """QUALIFY through the front-end: (a) predicate referencing a
    select alias, (b) raw window expression in the predicate, (c)
    ORDER BY + LIMIT surviving after the clause, (d) parenthesized
    QUALIFY-like text inside strings/subqueries is NOT treated as the
    clause."""
    from iceberg_workshop_spark.plans.sqlfront import (
        IceSqlSession,
        _rewrite_qualify,
    )

    spark.range(0, 10).selectExpr(
        "id", "id % 3 AS g", "cast(id * 7 % 10 as long) AS v"
    ).createOrReplaceTempView("iws_qual_t")
    sess = IceSqlSession(spark)

    alias_form = sess.sql(
        """SELECT g, id, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id)
           AS rn FROM iws_qual_t QUALIFY rn <= 2 ORDER BY g, rn"""
    ).collect()
    assert len(alias_form) == 6 and [r.rn for r in alias_form] == [1, 2] * 3
    assert "__iws_qualify__" not in alias_form[0].asDict()

    raw_form = sess.sql(
        """SELECT g, id FROM iws_qual_t
           QUALIFY RANK() OVER (PARTITION BY g ORDER BY v DESC, id) = 1
           ORDER BY g LIMIT 2"""
    ).collect()
    assert len(raw_form) == 2 and [r.g for r in raw_form] == [0, 1]

    # no top-level QUALIFY -> untouched
    cands, hit = _rewrite_qualify("SELECT 'has QUALIFY inside' AS s FROM t")
    assert not hit and "has QUALIFY inside" in cands[0]
    cands, hit = _rewrite_qualify(
        "SELECT * FROM (SELECT a FROM t QUALIFY rn = 1) sub"
    )
    assert not hit  # parenthesized: the inner query's clause, not ours


def test_qualify_alias_shadows_base_column(spark):
    """Regression (round-9 ADVICE): when the QUALIFY predicate names an
    identifier that is BOTH a base column and a select alias, the
    rewrite must bind the ALIAS (SQL:2023 / DuckDB semantics), not
    whichever candidate form analyzes first. Here the alias `v`
    negates the base `v`: alias-binding keeps base-v < 0 rows per
    group; base-binding would keep base-v > 0 rows."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    spark.createDataFrame(
        [(0, -3), (0, 2), (1, -1), (1, 4)], "g int, v int"
    ).createOrReplaceTempView("iws_qual_shadow_t")
    sess = IceSqlSession(spark)
    rows = sess.sql(
        """SELECT g, -v AS v,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY -v) AS rn
           FROM iws_qual_shadow_t QUALIFY v > 0 ORDER BY g"""
    ).collect()
    # alias v = -base_v > 0  ⇔  base v < 0 → rows (0,-3) and (1,-1)
    assert [(r.g, r.v) for r in rows] == [(0, 3), (1, 1)], rows


def test_delete_without_where_deletes_all(spark, tmp_path):
    """Standard SQL: a bare DELETE FROM t removes every row (it used
    to fall through to spark.sql and die with an unrelated analysis
    error). History must be preserved — time travel still sees the
    pre-delete snapshot — and the MoR positional path honors the same
    form."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    sess = IceSqlSession(spark)
    sess.sql(f"CREATE TABLE db.da (k BIGINT, v BIGINT) LOCATION '{tmp_path}/da'")
    sess.sql("INSERT INTO db.da VALUES (1, 10), (2, 20)")
    sess.sql("DELETE FROM db.da")
    assert sess.sql("SELECT * FROM db.da").count() == 0
    t = sess.tables["db.da"]
    snaps = [s["snapshot_id"] for s in t.meta.snapshots]
    assert t.read(snapshot_id=snaps[-2]).count() == 2
    # merge-on-read delete mode takes the positional-delete route
    sess.sql(
        f"CREATE TABLE db.dm (k BIGINT) LOCATION '{tmp_path}/dm'"
    )
    sess.tables["db.dm"].set_properties({"write.delete.mode": "merge-on-read"})
    sess.sql("INSERT INTO db.dm VALUES (1), (2), (3)")
    sess.sql("DELETE FROM db.dm")
    assert sess.sql("SELECT * FROM db.dm").count() == 0


def test_parser_error_paths_are_loud(spark, tmp_path):
    """Malformed statements near handled grammar must raise a
    targeted error, not silently fall through to a different
    interpretation: unknown DML target, MERGE clause without THEN,
    two WHEN NOT MATCHED clauses, unparsed ALTER COLUMN body."""
    import pytest as _pytest

    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    sess = IceSqlSession(spark)
    sess.sql(f"CREATE TABLE db.t9 (k BIGINT, v BIGINT) LOCATION '{tmp_path}/t9'")
    sess.sql("INSERT INTO db.t9 VALUES (1, 10)")
    with _pytest.raises(KeyError, match="not a registered ice table"):
        sess.sql("DELETE FROM db.nope WHERE k = 1")
    with _pytest.raises(ValueError, match="missing THEN"):
        sess.sql(
            "MERGE INTO db.t9 t USING (SELECT 1 AS k, 2 AS v) s ON t.k = s.k "
            "WHEN MATCHED UPDATE SET v = s.v"
        )
    with _pytest.raises(ValueError, match="at most one WHEN NOT MATCHED"):
        sess.sql(
            "MERGE INTO db.t9 t USING (SELECT 1 AS k, 2 AS v) s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v) "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
        )
    with _pytest.raises(ValueError, match="unparsed ALTER COLUMN"):
        sess.sql("ALTER TABLE db.t9 ALTER COLUMN v FROBNICATE")
    # failed statements must not have mutated the table
    assert sess.sql("SELECT * FROM db.t9").count() == 1


def test_merge_insert_forms_and_bare_alias(spark, tmp_path):
    """Round-9 grammar closure: MERGE accepts a bare (AS-less) target
    alias and all three standard WHEN NOT MATCHED INSERT forms —
    positional `INSERT VALUES`, named-subset `INSERT (cols) VALUES`
    (unnamed columns take typed NULLs), and `INSERT *`."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    sess = IceSqlSession(spark)
    sess.sql(
        f"CREATE TABLE db.m9 (k BIGINT, v BIGINT, note STRING) "
        f"LOCATION '{tmp_path}/m9'"
    )
    sess.sql("INSERT INTO db.m9 VALUES (1, 10, 'a')")
    # bare alias + named-subset insert: note gets a typed NULL
    sess.sql(
        "MERGE INTO db.m9 t USING (SELECT 2 AS k, 20 AS v) s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    rows = {(r.k, r.v, r.note) for r in sess.sql("SELECT * FROM db.m9").collect()}
    assert rows == {(1, 10, "a"), (2, 20, None)}
    # INSERT * with full-width source
    sess.sql(
        "MERGE INTO db.m9 AS t USING "
        "(SELECT 3 AS k, 30 AS v, 'c' AS note) s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {(r.k, r.v, r.note) for r in sess.sql("SELECT * FROM db.m9").collect()}
    assert rows == {(1, 10, "a"), (2, 20, None), (3, 30, "c")}
    # bare-alias matched update still works alongside
    sess.sql(
        "MERGE INTO db.m9 t USING (SELECT 1 AS k, 99 AS v) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    rows = {(r.k, r.v) for r in sess.sql("SELECT k, v FROM db.m9").collect()}
    assert rows == {(1, 99), (2, 20), (3, 30)}


def test_qualify_cast_type_names_do_not_flip_candidate_order():
    """Regression (round-10 ADVICE): `AS BIGINT` inside CAST(...) in
    the select list must not count as a select alias. A predicate
    identifier that happens to equal a type name (here a column
    literally named `bigint`) used to flip the candidate order to the
    wrapped form; now only REAL aliases do."""
    from iceberg_workshop_spark.plans.sqlfront import _rewrite_qualify

    wrapped_head = "SELECT * FROM (SELECT __iws_q.*"
    # pred ident 'bigint' == CAST type name, NOT an alias -> injected first
    cands, hit = _rewrite_qualify(
        "SELECT g, CAST(v AS BIGINT) AS w FROM t QUALIFY bigint > 1"
    )
    assert hit and not cands[0].startswith(wrapped_head), cands[0]
    # pred referencing the REAL alias w -> wrapped (alias-binding) first
    cands, hit = _rewrite_qualify(
        "SELECT g, CAST(v AS BIGINT) AS w FROM t QUALIFY w > 1"
    )
    assert hit and cands[0].startswith(wrapped_head), cands[0]


def test_select_with_pushdown_applies_mor_deletes(spark, tmp_path):
    """Round-10 fix: a SELECT whose WHERE is pushed into the pruned
    table scan must not resurrect rows masked by outstanding
    merge-on-read deletes."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    sess = IceSqlSession(spark)
    sess.sql(
        f"CREATE TABLE db.morsel (k BIGINT, v BIGINT) LOCATION '{tmp_path}/m'"
    )
    sess.tables["db.morsel"].set_properties(
        {"write.delete.mode": "merge-on-read"}
    )
    sess.sql("INSERT INTO db.morsel VALUES (1, 10), (2, 20), (3, 30)")
    sess.sql("DELETE FROM db.morsel WHERE k = 2")
    got = sorted(
        r.k for r in sess.sql("SELECT k FROM db.morsel WHERE k >= 1").collect()
    )
    assert got == [1, 3], got


def _fresh_sess(spark, tmp_path):
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    return IceSqlSession(spark, scratch=str(tmp_path / "scratch"))


def test_literals_with_parens_and_escaped_quotes(spark, tmp_path):
    """Round-11 review: parens inside string literals crashed the
    WHERE-peel ('unbalanced parens'); backslash-escaped quotes ended
    the mask span early so keyword detection ran inside literals."""
    s = _fresh_sess(spark, tmp_path)
    s.sql("CREATE TABLE db.t (id INT, note STRING) STORED BY ICEBERG")
    s.sql("INSERT INTO db.t VALUES (1, 'a'), (2, 'b')")
    assert s.sql("SELECT * FROM db.t WHERE (note = '(' AND id = 1)").count() == 0
    s.sql("UPDATE db.t SET note = 'don\\'t (x)' WHERE id = 1")
    assert sorted(
        (r.id, r.note) for r in s.sql("SELECT * FROM db.t").collect()
    ) == [(1, "don't (x)"), (2, "b")]


def test_update_set_with_scalar_subquery_where(spark, tmp_path):
    """The SET/WHERE split is depth-aware: a WHERE inside a scalar
    subquery assignment must not terminate the SET list."""
    s = _fresh_sess(spark, tmp_path)
    s.sql("CREATE TABLE db.u (k INT, v INT) STORED BY ICEBERG")
    s.sql("INSERT INTO db.u VALUES (1, 10), (2, 20)")
    s.sql("UPDATE db.u SET v = (SELECT max(v) FROM db.u WHERE k = 1) WHERE k = 2")
    assert sorted(
        (r.k, r.v) for r in s.sql("SELECT * FROM db.u").collect()
    ) == [(1, 10), (2, 10)]


def test_insert_with_explicit_column_list(spark, tmp_path):
    """INSERT INTO t (col, ...) VALUES — standard column-list form:
    binds by name in the caller's order, unnamed columns NULL."""
    s = _fresh_sess(spark, tmp_path)
    s.sql("CREATE TABLE db.c (a INT, b INT, c STRING) STORED BY ICEBERG")
    s.sql("INSERT INTO db.c (b, a) VALUES (7, 1)")
    assert [tuple(r) for r in s.sql("SELECT * FROM db.c").collect()] == [
        (1, 7, None)
    ]


def test_mixed_static_dynamic_partition_insert_binds_by_name(spark, tmp_path):
    """Round-11 review: static PARTITION literals used to be appended
    AFTER dynamic partition columns, silently swapping their values in
    a mixed insert. Statics bind by name now."""
    s = _fresh_sess(spark, tmp_path)
    s.sql(
        "CREATE TABLE db.p (v INT) PARTITIONED BY (p1 STRING, p2 STRING)"
        " STORED BY ICEBERG"
    )
    s.sql('INSERT INTO db.p PARTITION(p1="a", p2) SELECT 5, \'x\'')
    assert [tuple(r) for r in s.sql("SELECT * FROM db.p").collect()] == [
        (5, "a", "x")
    ]


def test_merge_without_source_alias(spark, tmp_path):
    """Standard alias-less MERGE INTO t USING s ON ...: the source is
    referenced by its table name."""
    s = _fresh_sess(spark, tmp_path)
    s.sql("CREATE TABLE db.m (k INT, v STRING) STORED BY ICEBERG")
    s.sql("INSERT INTO db.m VALUES (1, 'old')")
    s.sql("CREATE TABLE db.srct (k INT, v STRING) STORED BY ICEBERG")
    s.sql("INSERT INTO db.srct VALUES (1, 'new'), (2, 'ins')")
    s.sql(
        "MERGE INTO db.m AS t USING db.srct ON t.k = srct.k "
        "WHEN MATCHED THEN UPDATE SET v = srct.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (srct.k, srct.v)"
    )
    assert sorted(
        (r.k, r.v) for r in s.sql("SELECT * FROM db.m").collect()
    ) == [(1, "new"), (2, "ins")]


def test_drop_table_clears_materialized_view_registration(spark, tmp_path):
    """DROP TABLE on an MV must not leave a ghost in the MV registry
    (SHOW listed it; REFRESH raised a bare KeyError)."""
    s = _fresh_sess(spark, tmp_path)
    s.sql("CREATE TABLE db.base (g STRING, x INT) STORED BY ICEBERG")
    s.sql("INSERT INTO db.base VALUES ('a', 1)")
    s.sql(
        "CREATE MATERIALIZED VIEW db.mv AS"
        " SELECT g, COUNT(*) AS n FROM db.base GROUP BY g"
    )
    s.sql("DROP TABLE db.mv")
    assert all(
        r[0] != "db.mv" for r in s.sql("SHOW MATERIALIZED VIEWS").collect()
    )


def test_create_tblproperties_value_with_paren(spark, tmp_path):
    """A ')' inside a CREATE-time property value must not truncate the
    property (the ALTER path already handled it)."""
    s = _fresh_sess(spark, tmp_path)
    s.sql(
        'CREATE TABLE db.pp (x INT) STORED BY ICEBERG'
        ' TBLPROPERTIES("comment"="x (y)")'
    )
    props = {
        r["key"]: r["value"]
        for r in s.sql("SHOW TBLPROPERTIES db.pp").collect()
    }
    assert props.get("comment") == "x (y)"


def test_sql_range_predicate_on_typed_timestamps_prunes(spark, tmp_path):
    """The SQL month-range DELETE prunes like the API call: typed
    ``TIMESTAMP '…'`` literals become datetimes, so the month
    partitions outside the range are never scanned."""
    from datetime import datetime

    from iceberg_workshop_spark.icetbl import Pred, spec_field
    from iceberg_workshop_spark.icetbl.pruning import prune_files
    from iceberg_workshop_spark.plans.sqlfront import _dnf_from_where

    cond = (
        "o_orderdate >= TIMESTAMP '1996-03-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'"
    )
    assert _dnf_from_where(cond) == [[
        Pred("o_orderdate", ">=", datetime(1996, 3, 1)),
        Pred("o_orderdate", "<", datetime(1996, 4, 1)),
    ]]
    rows = [(k, datetime(1996, 2 + k % 3, 10)) for k in range(9)]
    tbl = IceTable.create_as(
        spark,
        str(tmp_path / "o"),
        spark.createDataFrame(rows, "o_orderkey bigint, o_orderdate timestamp"),
        [spec_field("o_orderdate", "month")],
    )
    s = IceSqlSession(spark)
    s.register_table("db.o", tbl)
    dnf = s._safe_preds(tbl, cond)
    spec_by_id = dict(enumerate(tbl.meta.specs))
    kept, _ = prune_files(tbl.meta.current_files(), spec_by_id, dnf)
    months = {f["partition"]["o_orderdate_month"] for f in kept}
    assert "1996-03" in months and "1996-02" not in months
    s.sql(f"DELETE FROM db.o WHERE {cond}")
    assert sorted(r.o_orderkey for r in tbl.read().collect()) == [0, 2, 3, 5, 6, 8]


def test_merge_leaves_no_temp_views(sess, spark):
    """A SQL MERGE binds its target, source and registered names as
    DataFrame parameters: no temp view outlives the statement, even
    when it raises."""
    s, tbl = sess
    s.register_view(
        "staging.srcv", spark.createDataFrame([(2, "B"), (7, "G")], "id int, name string")
    )
    before = sorted(t.name for t in spark.catalog.listTables())
    s.sql(
        "MERGE INTO db.t AS target USING (SELECT * FROM staging.srcv) AS source "
        "ON id = source.id WHEN MATCHED THEN UPDATE SET name = source.name "
        "WHEN NOT MATCHED THEN INSERT VALUES (source.id, source.name)"
    )
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    assert sorted((r.id, r.name) for r in tbl.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (7, "G"),
    ]
    with pytest.raises(Exception, match="nope"):
        s.sql(
            "MERGE INTO db.t AS target USING staging.srcv AS source "
            "ON id = source.id WHEN MATCHED THEN UPDATE SET name = source.nope"
        )
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_sql_offset_timestamp_literal_does_not_prune(spark, tmp_path):
    """A TIMESTAMP literal with a zone offset names an instant the
    pruning code cannot place in a month: it must not prune, and the
    DELETE still removes the March row that lies past the instant."""
    from datetime import datetime

    from iceberg_workshop_spark.icetbl import spec_field
    from iceberg_workshop_spark.plans.sqlfront import _dnf_from_where

    # 1996-04-01 01:00+05:00 is 1996-03-31 20:00 UTC (UTC session)
    cond = "o_orderdate >= TIMESTAMP '1996-04-01 01:00:00+05:00'"
    assert not _dnf_from_where(cond)
    rows = [
        (1, datetime(1996, 3, 10)),
        (2, datetime(1996, 3, 31, 22)),
        (3, datetime(1996, 4, 10)),
    ]
    tbl = IceTable.create_as(
        spark,
        str(tmp_path / "o"),
        spark.createDataFrame(rows, "o_orderkey bigint, o_orderdate timestamp"),
        [spec_field("o_orderdate", "month")],
    )
    s = IceSqlSession(spark)
    s.register_table("db.o", tbl)
    assert not s._safe_preds(tbl, cond)
    s.sql(f"DELETE FROM db.o WHERE {cond}")
    assert [r.o_orderkey for r in tbl.read().collect()] == [1]


def test_merge_guarded_values_run_only_where_their_clause_applies(spark, tmp_path):
    """Under ANSI mode a value that divides by zero or casts a bad
    string raises. Each insert and NOT MATCHED BY SOURCE value runs
    only on the rows its clause takes, so a guard protects it, and a
    matched source row (k=2) never runs the insert values."""
    s = _fresh_sess(spark, tmp_path)
    s.sql("CREATE TABLE db.g (k INT, x INT, d INT) STORED BY ICEBERG")
    s.sql("INSERT INTO db.g VALUES (1, 10, 0), (2, 20, 5), (3, 30, 0), (4, 40, 4)")
    s.register_view(
        "staging.gs",
        spark.createDataFrame(
            [(1, 7, 0, "junk"), (2, 9, 3, "junk"), (5, 50, 0, "junk"), (6, 60, 3, "2")],
            "k int, x int, d int, v string",
        ),
    )
    s.sql(
        "MERGE INTO db.g AS t USING staging.gs AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET x = s.x "
        "WHEN NOT MATCHED AND s.d <> 0 "
        "THEN INSERT VALUES (s.k, s.x / s.d, CAST(s.v AS INT)) "
        "WHEN NOT MATCHED BY SOURCE AND t.d <> 0 THEN UPDATE SET x = t.x / t.d"
    )
    got = sorted((r.k, r.x, r.d) for r in s.sql("SELECT * FROM db.g").collect())
    assert got == [(1, 7, 0), (2, 9, 5), (3, 30, 0), (4, 10, 4), (6, 20, 2)]
