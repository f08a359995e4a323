"""icetbl lifecycle invariants — replays of the reference's golden
expectations (SURVEY.md §5.1): pruning ratios, stats-less adoption,
CoW file granularity, metadata retention.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from iceberg_workshop_spark.icetbl import IceTable, Pred, spec_field
from iceberg_workshop_spark.sources.tables import load
from tests.conftest import SF_DIR


@pytest.fixture
def tmp_table_dir(tmp_path):
    return str(tmp_path / "tbl")


def test_transform_partition_pruning_ratio(spark, tmp_table_dir):
    """README.md:229-237: a 1-of-N-days predicate on a days(ts)
    partitioned table must scan ~1/N of files (BASELINE.md: ≤2× the
    reference's 0.42%-of-files showcase, scaled to our day count)."""
    events = load(spark, SF_DIR, "events")
    t = IceTable.create_as(
        spark, tmp_table_dir, events, partition_spec=[spec_field("ts", "day")]
    )
    df = t.scan([Pred("ts", "between", (datetime(2024, 1, 5), datetime(2024, 1, 5, 23, 59, 59)))])
    rep = t.last_scan_report
    n_days = len({f["partition"]["ts_day"] for f in t.meta.current_files()})
    assert rep["files_scanned"] < rep["files_total"]
    # 1 day out of n_days → scanned fraction ≤ 2/n_days (2× parity target)
    assert rep["files_scanned"] / rep["files_total"] <= 2.0 / n_days
    # pruning must not change answers
    full = events.filter(
        F.col("ts").between("2024-01-05", "2024-01-05 23:59:59")
    ).count()
    assert df.count() == full


def test_stats_file_skipping_unpartitioned(spark, tmp_table_dir):
    """README.md:282-290: min/max bounds alone (no partitioning) skip
    files for a selective predicate."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").orderBy("o_orderkey")
    t = IceTable.create_as(spark, tmp_table_dir, orders.repartitionByRange(20, "o_orderkey"))
    t.scan([Pred("o_orderkey", "between", (0, 10))])
    rep = t.last_scan_report
    assert rep["files_total"] >= 10
    assert rep["files_scanned"] <= rep["files_total"] * 0.2


def test_adopted_files_without_stats_never_prune(spark, tmp_table_dir):
    """limitations.md:39-73: in-place-migrated files lack bounds →
    absent stats must mean 'always scan', not 'skip'."""
    src = sorted(glob.glob(f"{SF_DIR}/orders.parquet/*.parquet")) or [
        f"{SF_DIR}/orders.parquet"
    ]
    t = IceTable.adopt(spark, tmp_table_dir, src, collect_stats=False)
    df = t.scan([Pred("o_orderkey", "between", (0, 10))])
    rep = t.last_scan_report
    assert rep["files_scanned"] == rep["files_total"]  # nothing pruned...
    assert df.count() == 11  # ...but the filter still applies


def test_merge_rewrites_only_affected_files(spark, tmp_table_dir):
    """Iceberg v2 CoW granularity: a MERGE touching keys in one file
    must not rewrite the others."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("string").alias("v")
    )
    t = IceTable.create_as(spark, tmp_table_dir, df.repartitionByRange(10, "k"))
    src = spark.createDataFrame([(5, "UPDATED"), (2000, "INSERTED")], "k long, v string")
    stats = t.merge_into(src, on=["k"])
    assert stats["files_rewritten"] <= 2
    assert stats["files_untouched"] >= 8
    out = {r.k: r.v for r in t.read().filter("k in (5, 2000, 900)").collect()}
    assert out[5] == "UPDATED" and out[2000] == "INSERTED" and out[900] == "4"


def test_delete_prunes_candidates(spark, tmp_table_dir):
    df = spark.range(1000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    t = IceTable.create_as(spark, tmp_table_dir, df.repartitionByRange(10, "k"))
    stats = t.delete_where("k = 5", prune=[Pred("k", "=", 5)])
    assert stats["files_rewritten"] == 1
    assert t.read().count() == 999


def test_metadata_retention_props(spark, tmp_table_dir):
    """A28 (README.md:314-337): previous-versions-max +
    delete-after-commit prune old vN.json files."""
    t = IceTable.create(spark, tmp_table_dir, "a int")
    t.set_properties(
        {
            "write.metadata.previous-versions-max": "2",
            "write.metadata.delete-after-commit.enabled": "true",
        }
    )
    for i in range(5):
        t.insert_values([(i,)])
    mfiles = glob.glob(os.path.join(tmp_table_dir, "metadata", "v*.json"))
    assert len(mfiles) <= 3  # current + 2 previous
    assert t.read().count() == 5


def test_time_travel_and_rollback_chain(spark, tmp_table_dir):
    t = IceTable.create(spark, tmp_table_dir, "a int")
    t.insert_values([(1,)])
    s1 = t.meta.current_snapshot_id
    t.insert_values([(2,)])
    assert t.read().count() == 2
    assert t.read(snapshot_id=s1).count() == 1
    ts_between = t.meta.snapshot(s1)["timestamp_ms"]
    assert t.read(as_of_timestamp_ms=ts_between).count() == 1
    t.rollback(s1)
    assert t.read().count() == 1
    h = t.history().collect()
    assert len(h) == 3
    assert sum(1 for r in h if r.is_current_ancestor) == 2  # s1 twice


def test_rewrite_manifests_drops_abandoned_branches(spark, tmp_table_dir):
    t = IceTable.create(spark, tmp_table_dir, "a int")
    t.insert_values([(1,)])
    s1 = t.meta.current_snapshot_id
    t.insert_values([(2,)])
    t.rollback(s1)
    stats = t.rewrite_manifests()
    assert stats["snapshots_after"] < stats["snapshots_before"]
    assert t.read().count() == 1


def test_size_tiered_compaction(spark, tmp_table_dir):
    """Size-tiered rewrite_data_files: small files merge, right-sized
    files survive by identity (no rewrite), answers unchanged."""
    from pyspark.sql import functions as F

    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    t = IceTable.create_as(spark, tmp_table_dir, big.coalesce(1))
    for i in range(4):  # four tiny appends → four small files
        t.append(
            spark.range(20000 + i * 10, 20010 + i * 10)
            .select(F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"))
            .coalesce(1)
        )
    files = t.meta.current_files()
    sizes = sorted(f["file_size"] for f in files)
    threshold = sizes[-1]  # everything smaller than the big file
    big_paths = {f["path"] for f in files if f["file_size"] >= threshold}
    n_before = t.scan().count()

    stats = t.rewrite_data_files(
        target_num_files=1, small_file_threshold_bytes=threshold
    )
    assert stats["files_untouched"] == len(big_paths) == 1
    assert stats["files_rewritten"] == 4
    assert stats["files_after"] == 2  # 1 untouched + 1 merged

    after = t.meta.current_files()
    assert big_paths <= {f["path"] for f in after}  # identity-carried
    assert t.scan().count() == n_before


def test_sort_clustered_rewrite_enables_skipping(spark, tmp_table_dir):
    """Sort-mode rewrite: round-robin files never skip; range-clustered
    files give the planner disjoint bounds, so a narrow predicate scans
    a small fraction. zstd codec property is honored on rewrite."""
    import pyarrow.parquet as pq

    df = spark.range(0, 50000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).cast("double").alias("m")
    )
    t = IceTable.create_as(spark, tmp_table_dir, df.repartition(10))
    pred = [Pred("m", "between", (100.0, 150.0))]
    t.scan(pred)
    assert t.last_scan_report["files_scanned"] == 10  # no skipping possible

    t.set_properties({"write.parquet.compression-codec": "zstd"})
    stats = t.rewrite_data_files(target_num_files=10, sort_by=["m"])
    assert stats["files_rewritten"] == 10

    n = t.scan(pred).count()
    assert t.last_scan_report["files_scanned"] <= 3
    assert n == 50000 // 1000 * 51  # 51 distinct m values, 50 rows each

    meta = pq.ParquetFile(t.meta.current_files()[0]["path"]).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"


def test_zorder_rewrite_skips_on_both_columns(spark, tmp_table_dir):
    """Z-order clustering: after rewrite, a selective range predicate
    on EITHER interleaved column scans a fraction of files (Morton
    locality), and answers are unchanged."""
    df = spark.range(0, 65536).select(
        (F.col("id") % 256).cast("double").alias("x"),
        (F.floor(F.col("id") / 256)).cast("double").alias("y"),
    )
    t = IceTable.create_as(spark, tmp_table_dir, df.repartition(16))
    px = [Pred("x", "between", (0.0, 31.0))]     # 1/8 of x range
    py = [Pred("y", "between", (64.0, 95.0))]    # 1/8 of y range
    t.scan(px)
    assert t.last_scan_report["files_scanned"] == 16  # round-robin: no skip

    t.rewrite_data_files(target_num_files=16, zorder_by=["x", "y"])

    nx = t.scan(px).count()
    rx = t.last_scan_report
    ny = t.scan(py).count()
    ry = t.last_scan_report
    assert nx == 32 * 256 and ny == 32 * 256  # answers preserved
    # Morton locality: each 1/8-range predicate touches well under
    # half the files (perfect curve would touch ~1/4 at this shape).
    assert rx["files_scanned"] <= 8, rx
    assert ry["files_scanned"] <= 8, ry


def test_expire_protects_ref_heads(spark, tmp_table_dir):
    """Snapshot expiration must treat tag/branch heads as retention
    roots: a tag pinned at snapshot 1 survives an expire-everything
    pass, its files stay on disk, and the tagged state remains
    readable (Iceberg ref semantics)."""
    from iceberg_workshop_spark.icetbl.meta import now_ms

    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    t = IceTable.create_as(spark, tmp_table_dir, nation)
    t.create_tag("v1")
    t.insert_values([(990, "FAKELAND", 0)])
    t.insert_values([(991, "AUDITLAND", 1)])

    stats = t.expire_snapshots(older_than_ms=now_ms() + 1)
    assert stats["snapshots_before"] - stats["snapshots_after"] >= 1
    # the tagged snapshot survived and still reads the original state
    assert t.read(ref="v1").count() == nation.count()
    # the current head still reads everything
    assert t.read().count() == nation.count() + 2


def test_cow_rewrite_does_not_resurrect_mor_deletes(spark, tmp_table_dir):
    """A CoW UPDATE (or compaction) rewrites files with a FRESH
    sequence number, exempting them from carried equality deletes —
    the rewrite must therefore read through the deletes or deleted
    rows come back. Regression for the MoR/CoW interplay."""
    df = spark.range(0, 100).selectExpr("id AS k", "CAST(id % 5 AS INT) AS grp")
    t = IceTable.create_as(spark, tmp_table_dir, df)
    t.delete_where_mor("grp = 0", keys=["k"])
    assert t.read().count() == 80
    # CoW update touches every file; deleted rows must stay deleted
    t.update_where("grp = 1", {"grp": "CAST(99 AS INT)"})
    assert t.read().count() == 80
    assert t.read().filter("grp = 0").count() == 0
    # compaction must also not resurrect
    t.rewrite_data_files(target_num_files=2)
    assert t.read().count() == 80
    assert t.read().filter("grp = 0").count() == 0


def test_bucket_transform_pruning(spark, tmp_table_dir):
    """bucket[N] equality pruning: a point predicate scans ~1/N of the
    files, never drops a needed row, and range predicates do NOT prune
    (hash buckets carry no order)."""
    df = spark.range(0, 2000).selectExpr("id AS k", "id % 7 AS v")
    t = IceTable.create_as(
        spark, tmp_table_dir, df,
        partition_spec=[spec_field("k", "bucket[8]", "kb")],
    )
    out = t.scan([Pred("k", "=", 1234)])
    rep = t.last_scan_report
    assert rep["files_scanned"] * 4 <= rep["files_total"], rep
    assert [r["k"] for r in out.collect()] == [1234]
    # range predicate: no bucket pruning, still correct
    out2 = t.scan([Pred("k", "between", (10, 12))])
    assert sorted(r["k"] for r in out2.collect()) == [10, 11, 12]


def test_bucket_pruning_coerces_literal_types(spark, tmp_table_dir):
    """ADVICE r13: bucket_value hashes by the literal's PYTHON type, so
    an ISO string probed against a date-bucketed column (accepted by
    bounds pruning) used to hash the STRING's bytes, prune the wrong
    files, and silently lose matching rows. The literal must be coerced
    to the source column's type; uncoercible literals must skip bucket
    pruning (sound), never mis-prune."""
    from datetime import date as _date

    df = spark.sql(
        "SELECT DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d, id AS v "
        "FROM RANGE(0, 400)"
    )
    t = IceTable.create_as(
        spark, tmp_table_dir, df,
        partition_spec=[spec_field("d", "bucket[8]", "db")],
    )
    # string literal: must return the matching row AND prune
    out = t.scan([Pred("d", "=", "2024-03-05")])
    assert [r["v"] for r in out.collect()] == [
        ( _date(2024, 3, 5) - _date(2024, 1, 1) ).days
    ]
    rep = t.last_scan_report
    assert rep["files_scanned"] * 4 <= rep["files_total"], rep
    # date literal agrees with the string literal's pruning
    out2 = t.scan([Pred("d", "=", _date(2024, 3, 5))])
    assert out.collect() == out2.collect()
    # uncoercible literal: bucket pruning must SKIP (keep every file),
    # never hash the wrong bytes and mis-prune (planner-level check —
    # ANSI mode rejects the row filter itself for an invalid date cast)
    files = t.meta.current_files()
    kept = t._prune_bucket(files, [Pred("d", "=", "not-a-date")])
    assert len(kept) == len(files)


def test_rename_interops_with_mor_delete_and_merge(spark, tmp_table_dir):
    """Schema evolution × MoR × CoW interplay: rename a column, then
    MoR-delete by the RENAMED key and MERGE through it — every path
    must read old files via era aliasing (values preserved under the
    new name) and never resurrect deleted rows."""
    df = spark.range(0, 50).selectExpr("id AS old_k", "id * 2 AS v")
    t = IceTable.create_as(spark, tmp_table_dir, df)
    t.rename_column("old_k", "k")
    assert t.read().filter("k = 7").count() == 1  # era alias preserves values
    t.delete_where_mor("k >= 40", keys=["k"])
    assert t.read().count() == 40
    src = spark.range(0, 5).selectExpr("id AS k", "CAST(999 AS BIGINT) AS v")
    t.merge_into(src, on=["k"])
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(out) == 40 and out[0] == 999 and out[10] == 20
    # deleted keys stay gone through the merge rewrite
    assert all(k < 40 for k in out)


def test_expire_keeps_live_equality_delete_files(spark, tmp_table_dir):
    """Orphan cleanup must treat equality-delete files as referenced:
    expiring history after a MoR delete may not remove the delete
    file the current snapshot still applies (regression: deletes
    silently resurrected after expire)."""
    from iceberg_workshop_spark.icetbl.meta import now_ms

    df = spark.range(0, 100).selectExpr("id AS k", "id AS v")
    t = IceTable.create_as(spark, tmp_table_dir, df)
    t.delete_where_mor("k >= 90", keys=["k"])
    assert t.read().count() == 90
    t.expire_snapshots(older_than_ms=now_ms() + 1)
    # the delete must still apply after history expiration
    assert t.read().count() == 90
    assert t.read().filter("k >= 90").count() == 0


def test_sort_compaction_produces_disjoint_file_ranges(spark, tmp_table_dir):
    """`rewrite_data_files(sort_by=...)` must leave per-file value
    ranges (manifest lower/upper bounds) pairwise disjoint — the
    physical property that makes post-compaction stats pruning
    O(matching range) instead of O(table)."""
    ev = load(spark, SF_DIR, "events").select("event_id", "value")
    t = IceTable.create_as(spark, tmp_table_dir, ev.repartition(8))
    t.rewrite_data_files(target_num_files=6, sort_by=["value"])
    files = t.meta.current_files()
    assert len(files) > 1
    bounds = sorted(tuple(f["bounds"]["value"]) for f in files)
    for (_, hi1), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2


def test_pinned_metadata_read(spark, tmp_table_dir):
    """A34: open the table AT a specific metadata file / version —
    the full-metadata-path read of interoperability.md:95-112."""
    from iceberg_workshop_spark.icetbl import meta as M

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    t = IceTable.create_as(spark, tmp_table_dir, df)
    v_old = t.meta.version
    t.append(spark.createDataFrame([(3, "c")], "id int, name string"))

    pinned = IceTable.load(spark, tmp_table_dir, version=v_old)
    assert {r.id for r in pinned.read().collect()} == {1, 2}
    by_path = IceTable.load_metadata(
        spark, os.path.join(tmp_table_dir, M.METADATA_DIR, f"v{v_old}.json")
    )
    assert {r.id for r in by_path.read().collect()} == {1, 2}
    # pinned view == time-travel view of the same snapshot
    assert by_path.meta.current_snapshot_id == pinned.meta.current_snapshot_id
    with pytest.raises(ValueError):
        IceTable.load_metadata(spark, os.path.join(tmp_table_dir, "nope.txt"))
    with pytest.raises(FileNotFoundError):
        IceTable.load(spark, tmp_table_dir, version=99)


def test_changelog_update_is_delete_insert_pair(spark, tmp_table_dir):
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t = IceTable.create_as(spark, tmp_table_dir, df.repartitionByRange(5, "k"))
    s1 = t.meta.current_snapshot_id
    src = spark.range(40, 43).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    )
    t.merge_into(src, on=["k"])
    rows = {(r["_change_type"], r["k"], r["v"]) for r in t.changelog(s1).collect()}
    expect = set()
    for k in (40, 41, 42):
        expect.add(("delete", k, k * 10))
        expect.add(("insert", k, -1))
    assert rows == expect


def test_changelog_compaction_is_net_empty(spark, tmp_table_dir):
    df = spark.range(0, 500).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df.repartition(8))
    s1 = t.meta.current_snapshot_id
    t.rewrite_data_files()
    assert t.changelog(s1).count() == 0


def test_changelog_mor_delete_reaches_unchanged_files(spark, tmp_table_dir):
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    t = IceTable.create_as(spark, tmp_table_dir, df.repartitionByRange(8, "k"))
    s1 = t.meta.current_snapshot_id
    t.delete_where_mor("k >= 20 AND k < 25", keys=["k"])
    cl = t.changelog(s1).collect()
    assert {r["_change_type"] for r in cl} == {"delete"}
    assert sorted(r["k"] for r in cl) == [20, 21, 22, 23, 24]
    # stats pruning kept the read to the files overlapping the keys
    assert t.changelog(s1, to_snapshot_id=s1).count() == 0


def test_changelog_from_empty_is_all_inserts(spark, tmp_table_dir):
    df = spark.range(0, 50).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df)
    cl = t.changelog(None)
    assert cl.filter("_change_type = 'insert'").count() == 50
    assert cl.filter("_change_type = 'delete'").count() == 0


def test_cherrypick_rejects_non_append_snapshots(spark, tmp_table_dir):
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df.repartitionByRange(4, "k"))
    t.delete_where("k < 5")  # CoW: removes/rewrites files
    cow_snap = t.meta.current_snapshot_id
    t.insert_values([(100,)])
    with pytest.raises(ValueError):
        t.cherrypick(cow_snap)


def test_cherrypick_is_idempotent_on_shared_files(spark, tmp_table_dir):
    t = IceTable.create(spark, tmp_table_dir, "a int")
    t.insert_values([(1,)])
    t.create_branch("b")
    t.append(spark.createDataFrame([(2,)], "a int"), branch="b")
    head = t.meta.refs["b"]["snapshot_id"]
    t.cherrypick(head)
    t.cherrypick(head)  # delta already present: no duplicate rows
    assert sorted(r.a for r in t.read().collect()) == [1, 2]


def test_ice_stream_source_skips_or_rejects_rewrites(spark, tmp_table_dir):
    from iceberg_workshop_spark.sources.pysource import (
        IceStreamDataSource,
        _IceStreamReader,
    )

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df.repartition(4))
    t.append(spark.range(100, 150).select(F.col("id").alias("k")))
    t.rewrite_data_files()  # non-append snapshot
    t.append(spark.range(150, 160).select(F.col("id").alias("k")))

    r = _IceStreamReader({"location": tmp_table_dir})
    head = r.latestOffset()
    with pytest.raises(ValueError):
        r.partitions({"sid": 0}, head)

    r2 = _IceStreamReader(
        {"location": tmp_table_dir, "skip_non_append": "true"}
    )
    parts = r2.partitions({"sid": 0}, head)
    # first two appends + final append; compaction snapshot skipped
    rows = sum(
        sum(b.num_rows for b in r2.read(p)) for p in parts
    )
    assert rows == 160

    spark.dataSource.register(IceStreamDataSource)
    from iceberg_workshop_spark.streaming.stateful import _drain

    src = (
        spark.readStream.format("iws_ice_stream")
        .option("location", tmp_table_dir)
        .option("skip_non_append", "true")
        .load()
    )
    out = _drain(src.agg(F.count(F.lit(1)).alias("n")), "complete")
    assert out.collect()[0]["n"] == 160


def test_branch_append_does_not_inherit_main_mor_deletes(spark, tmp_table_dir):
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df)
    t.create_branch("b")
    # main gains a MoR equality delete AFTER the branch forked
    t.delete_where_mor("k < 5", keys=["k"])
    assert t.read().count() == 15
    # branch append must carry the BRANCH head's (empty) delete set
    t.append(spark.createDataFrame([(100,)], "k int"), branch="b")
    assert t.read(ref="b").count() == 21  # 20 original + 1, no deletes
    assert t.read().count() == 15  # main unchanged


def test_cherrypick_survives_prior_mor_delete_on_main(spark, tmp_table_dir):
    t = IceTable.create(spark, tmp_table_dir, "k int")
    t.insert_values([(1,)])
    t.create_branch("b")
    t.append(spark.createDataFrame([(5,)], "k int"), branch="b")
    head = t.meta.refs["b"]["snapshot_id"]
    # main inserts then MoR-deletes k=5 AFTER the branch forked
    t.insert_values([(5,)])
    t.delete_where_mor("k = 5", keys=["k"])
    assert sorted(r.k for r in t.read().collect()) == [1]
    # publish the staged row: it is a NEW commit, newer than the
    # delete's sequence, so it must survive
    t.cherrypick(head)
    assert sorted(r.k for r in t.read().collect()) == [1, 5]


def test_ice_stream_rejects_mor_delete_snapshots(spark, tmp_table_dir):
    from iceberg_workshop_spark.sources.pysource import _IceStreamReader

    df = spark.range(0, 30).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df)
    t.delete_where_mor("k < 5", keys=["k"])  # file set unchanged
    r = _IceStreamReader({"location": tmp_table_dir})
    with pytest.raises(ValueError):
        r.partitions({"sid": 0}, r.latestOffset())
    r2 = _IceStreamReader(
        {"location": tmp_table_dir, "skip_non_append": "true"}
    )
    parts = r2.partitions({"sid": 0}, r2.latestOffset())
    assert sum(sum(b.num_rows for b in r2.read(p)) for p in parts) == 30


def test_ice_stream_offsets_survive_expire_and_detect_loss(spark, tmp_table_dir):
    from iceberg_workshop_spark.icetbl.meta import now_ms
    from iceberg_workshop_spark.sources.pysource import _IceStreamReader

    t = IceTable.create(spark, tmp_table_dir, "k int")
    t.insert_values([(1,)])
    s1 = t.meta.current_snapshot_id
    t.insert_values([(2,)])
    r = _IceStreamReader({"location": tmp_table_dir})
    # consume up to s1, then expire everything older than now (s1 is
    # not current, gets dropped) — resuming FROM s1 must fail loudly
    t.expire_snapshots(older_than_ms=now_ms() + 1)
    remaining = {s["snapshot_id"] for s in IceTable.load(spark, tmp_table_dir).meta.snapshots}
    if s1 not in remaining:
        with pytest.raises(ValueError):
            r.partitions({"sid": s1}, r.latestOffset())
    # but a fresh stream over the surviving state still works
    parts = r.partitions({"sid": 0}, r.latestOffset())
    assert sum(sum(b.num_rows for b in r.read(p)) for p in parts) == 2


def test_ice_stream_maps_renamed_and_added_columns(spark, tmp_table_dir):
    from iceberg_workshop_spark.sources.pysource import _IceStreamReader

    t = IceTable.create(spark, tmp_table_dir, "k int, v string")
    t.insert_values([(1, "a")])
    t.rename_column("v", "val")
    t.add_column("extra", "bigint")
    t.insert_values([(2, "b", 99)])
    # stream declared AFTER the evolution: columns k, val, extra
    r = _IceStreamReader({"location": tmp_table_dir})
    parts = r.partitions({"sid": 0}, r.latestOffset())
    got = {}
    for p in parts:
        for b in r.read(p):
            d = b.to_pydict()
            for i in range(len(d["k"])):
                got[d["k"][i]] = (d["val"][i], d["extra"][i])
    # old file: physical name 'v' read as 'val', extra null-filled
    assert got == {1: ("a", None), 2: ("b", 99)}


def test_changelog_mor_bounds_lookup_resolves_paths(spark, tmp_table_dir):
    """The one-job bounds fetch keys results by file path; a URI
    mismatch would silently disable stats pruning. Pin the resolution
    by checking the pruned relevant-set stays below the full common
    set for a narrow delete."""
    df = spark.range(0, 400).select(F.col("id").alias("k"))
    t = IceTable.create_as(spark, tmp_table_dir, df.repartitionByRange(8, "k"))
    s1 = t.meta.current_snapshot_id
    t.delete_where_mor("k >= 10 AND k < 15", keys=["k"])
    cl = t.changelog(s1)
    assert sorted(r["k"] for r in cl.collect()) == [10, 11, 12, 13, 14]
    # pruning engaged: the diff plan reads fewer than all 8 common
    # files (the delete keys span 1 of 8 range files)
    n_scanned = len(
        {f.split("/")[-1] for f in cl.inputFiles()}
    )
    assert n_scanned <= 2, n_scanned


def test_expire_max_ref_age_removes_stale_refs(spark, tmp_path):
    """history.expire.max-ref-age-ms: expiration removes refs older
    than the cap, then expires their snapshots; without the property
    refs protect their heads forever."""
    import time

    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create(spark, str(tmp_path / "refage"), "a int")
    t.insert_values([(1,)])
    t.create_tag("old_tag")
    tagged_sid = t.meta.refs["old_tag"]["snapshot_id"]
    t.insert_values([(2,)])
    # no property: the tag survives any expire
    t.expire_snapshots(older_than_ms=2**62, retain_last=1)
    assert "old_tag" in t.meta.refs
    assert any(s["snapshot_id"] == tagged_sid for s in t.meta.snapshots)
    # age cap of 1 ms: the tag is stale -> removed, snapshot expires
    time.sleep(0.01)
    t.set_properties({"history.expire.max-ref-age-ms": "1"})
    t.expire_snapshots(older_than_ms=2**62, retain_last=1)
    assert "old_tag" not in t.meta.refs
    assert all(s["snapshot_id"] != tagged_sid for s in t.meta.snapshots)


def test_type_widening_mixed_eras_and_dml(spark, tmp_path):
    """ALTER COLUMN TYPE widening: narrow-era files read-then-cast,
    wide values land after, CoW delete crosses the boundary, lossy
    changes rejected, pruning bounds still work across eras."""
    import pytest as _pt

    from iceberg_workshop_spark.icetbl import IceTable, Pred

    t = IceTable.create(spark, str(tmp_path / "widen"), "k int, v int")
    t.insert_values([(1, 10), (2, 20)])
    t.update_column_type("v", "bigint")
    t.append(spark.createDataFrame([(3, 10**15)], "k int, v bigint"))
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (1, 10), (2, 20), (3, 10**15),
    ]
    assert dict(t.read().dtypes)["v"] == "bigint"
    # stats pruning across eras: the narrow files' bounds are ints,
    # the wide file's longs — numeric comparison must prune anyway
    t.scan([Pred("v", "between", (10**14, 10**16))]).collect()
    rep = t.last_scan_report
    assert rep["files_scanned"] < rep["files_total"]
    # CoW delete across the widening boundary
    t.delete_where("v = 20")
    assert sorted(r.v for r in t.read().collect()) == [10, 10**15]
    with _pt.raises(ValueError, match="widening"):
        t.update_column_type("v", "int")
    with _pt.raises(ValueError, match="widening"):
        t.update_column_type("k", "string")


def test_branch_scoped_delete_wap(spark, tmp_path):
    """WAP with row-level deletes: a CoW DELETE staged on a branch
    leaves main untouched until fast_forward publishes it."""
    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create(spark, str(tmp_path / "brdel"), "k int")
    t.insert_values([(i,) for i in range(6)])
    t.create_branch("audit")
    t.delete_where("k >= 4", branch="audit")
    assert t.read().count() == 6                 # main untouched
    assert t.read(ref="audit").count() == 4      # branch sees the delete
    t.fast_forward("audit")
    assert t.read().count() == 4                 # published


def test_expire_max_ref_age_spares_active_branch(spark, tmp_path):
    """Ref age is the HEAD COMMIT's age: a branch created long ago but
    committed-to recently survives the age cap (measuring from ref
    creation would delete an actively-written branch)."""
    import time

    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create(spark, str(tmp_path / "refactive"), "a int")
    t.insert_values([(1,)])
    t.create_branch("dev")
    time.sleep(0.05)
    t.set_properties({"history.expire.max-ref-age-ms": "40"})
    # fresh commit on the branch renews its head timestamp
    t.append(spark.createDataFrame([(2,)], "a int"), branch="dev")
    t.expire_snapshots(older_than_ms=0, retain_last=1)
    assert "dev" in t.meta.refs
    assert t.read(ref="dev").count() == 2


def test_legacy_entry_backfill_does_not_rewrite_history(spark, tmp_path):
    # ADVICE r4: committing over a table whose entries predate
    # first_snapshot_id stamping must (a) not mutate the carried entry
    # dicts aliased into earlier snapshots of the same doc, and (b)
    # derive the backfilled stamp from the OLDEST snapshot referencing
    # the path, not the committing snapshot.
    from iceberg_workshop_spark.icetbl import meta as M

    loc = str(tmp_path / "legacy")
    t = IceTable.create_as(
        spark, loc, spark.createDataFrame([(1,)], "a int")
    )
    t.append(spark.createDataFrame([(2,)], "a int"))
    true_first = {
        f["path"]: f["first_snapshot_id"]
        for sn in t.meta.snapshots
        for f in t.meta.files(sn)
    }
    # simulate a pre-stamping table: strip the stamps on disk (also
    # drop the manifest descriptors so commit re-shards the stripped
    # entries — a true pre-stamping doc had inline files, no manifests)
    legacy = M.read_current(loc)
    for sn in legacy.snapshots:
        for f in legacy.files(sn):
            f.pop("first_snapshot_id", None)
        sn.pop("manifests", None)
        sn.pop("delete_manifests", None)
        sn.pop("manifest_list", None)
    M.commit(legacy)

    t2 = IceTable.load(spark, loc)
    t2.append(spark.createDataFrame([(3,)], "a int"))
    doc = M.read_current(loc)
    snaps = doc.snapshots
    s3 = snaps[-1]["snapshot_id"]
    # historical snapshots: still unstamped (no retroactive mutation)
    for sn in snaps[:-1]:
        assert all("first_snapshot_id" not in f for f in doc.files(sn)), (
            "legacy snapshots must not be rewritten"
        )
    # head snapshot: backfilled stamps point at the TRUE adding commit
    for f in doc.files(snaps[-1]):
        expect = true_first.get(f["path"], s3)
        assert f["first_snapshot_id"] == expect, f["path"]


def test_bloom_skipping_prunes_unsorted_point_lookup(spark, tmp_path):
    """Per-file Bloom filters prune equality scans where min/max stats
    cannot: an unsorted high-cardinality column hashed across files
    gives every file full-domain bounds, yet a point lookup must scan
    only the file(s) whose bloom contains the value."""
    from iceberg_workshop_spark.icetbl import Pred

    df = (
        spark.range(0, 4000)
        .selectExpr("cast(xxhash64(id) % 100000 as bigint) AS k", "id AS v")
        .repartition(16)  # hash layout: every file spans the k domain
    )
    loc = str(tmp_path / "bloomtbl")
    t = IceTable.create(spark, loc, "k bigint, v bigint")
    t.set_properties({"write.parquet.bloom-filter-enabled.column.k": "true"})
    t.append(df)
    files = t.meta.current_files()
    assert len(files) == 16
    assert all("bloom" in f and "k" in f["bloom"] for f in files)

    sample = [r.k for r in t.read().limit(40).collect()]
    # no false negatives: every present value is found, and the scan
    # touches strictly fewer files than the table holds
    for val in sample[:10]:
        got = t.scan([Pred("k", "=", int(val))]).collect()
        assert any(r.k == val for r in got)
        rep = t.last_scan_report
        assert rep["files_scanned"] < rep["files_total"], rep
    # a value outside the written domain prunes everything (modulo
    # 3-probe false positives across 16 files)
    t.scan([Pred("k", "=", 10**12 + 7)]).count()
    assert t.last_scan_report["files_scanned"] <= 3


def test_bloom_absent_without_property(spark, tmp_path):
    t = IceTable.create_as(
        spark, str(tmp_path / "nobloom"), spark.range(5).selectExpr("id AS k")
    )
    assert all("bloom" not in f for f in t.meta.current_files())


def test_write_distribution_mode_hash_compacts_partition_files(spark, tmp_path):
    """write.distribution-mode=hash (the default) clusters rows by
    partition tuple before the partitioned write: one file per hidden
    partition instead of the (tasks x partitions) slivers that an
    explicit none writes."""
    df = spark.range(0, 4000).selectExpr(
        "id % 4 AS region", "id AS v"
    ).repartition(16)

    t_none = IceTable.create(
        spark, str(tmp_path / "none"), "region bigint, v bigint",
        partition_spec=[spec_field("region")],
    )
    t_none.set_properties({"write.distribution-mode": "none"})
    t_none.append(df)
    files_none = t_none.meta.current_files()
    assert len(files_none) > 4  # every task writes per-partition slivers

    t_hash = IceTable.create(
        spark, str(tmp_path / "hash"), "region bigint, v bigint",
        partition_spec=[spec_field("region")],
    )
    t_hash.set_properties({"write.distribution-mode": "hash"})
    t_hash.append(df)
    files_hash = t_hash.meta.current_files()
    assert len(files_hash) == 4  # one file per partition value
    assert {f["partition"]["region"] for f in files_hash} == {"0", "1", "2", "3"}
    assert t_hash.read().count() == 4000

    # hash is the default: an unset property clusters the same way
    t_default = IceTable.create(
        spark, str(tmp_path / "default"), "region bigint, v bigint",
        partition_spec=[spec_field("region")],
    )
    t_default.append(df)
    assert len(t_default.meta.current_files()) == 4


def test_rename_then_readd_old_name_no_collision(spark, tmp_table_dir):
    """Round-10 era-identity fix: after RENAME a->b, a NEW column may
    reuse the name `a`. For files from before the rename, BOTH
    declared columns used to resolve to physical `a` — a duplicate
    read-schema entry (COLUMN_ALREADY_EXISTS). Alive-era projection:
    old files feed `b` from physical `a` and read the new `a` as
    NULL; new files carry both."""
    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create_as(
        spark,
        tmp_table_dir,
        spark.createDataFrame([(1, 10)], "id int, a int"),
    )
    t.rename_column("a", "b")
    t.add_column("a", "int")
    t.append(spark.createDataFrame([(2, 20, 200)], "id int, b int, a int"))
    assert sorted(
        (r.id, r.b, r.a) for r in t.read().collect()
    ) == [(1, 10, None), (2, 20, 200)]


def test_rename_chain_with_readd_stays_era_correct(spark, tmp_table_dir):
    """a->b->c with a later re-added `b`: every era projects its own
    physical name into `c`, and the re-added `b` is NULL for all
    files written before its creation."""
    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create_as(
        spark,
        tmp_table_dir,
        spark.createDataFrame([(1, 10)], "id int, a int"),
    )
    t.rename_column("a", "b")
    t.append(spark.createDataFrame([(2, 20)], "id int, b int"))
    t.rename_column("b", "c")
    t.add_column("b", "int")
    t.append(spark.createDataFrame([(3, 30, 300)], "id int, c int, b int"))
    assert sorted(
        (r.id, r.c, r.b) for r in t.read().collect()
    ) == [(1, 10, None), (2, 20, None), (3, 30, 300)]


def test_drop_last_column_refused(spark, tmp_table_dir):
    """Iceberg refuses to drop a table's only column; so do we (an
    empty schema is unreadable and poisons later add_column DDL)."""
    import pytest as _pytest

    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create_as(
        spark, tmp_table_dir, spark.createDataFrame([(1,)], "x int")
    )
    with _pytest.raises(ValueError, match="last column"):
        t.drop_column("x")


def test_eq_delete_key_set_guard_is_order_insensitive(spark, tmp_table_dir):
    """Round-10 ADVICE fix: ['k','v'] and ['v','k'] are the same key
    SET — a reordered spelling must not be rejected as a mismatch,
    while a genuinely different set still is."""
    import pytest as _pytest

    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create_as(
        spark,
        tmp_table_dir,
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k int, v int, s string",
        ),
    )
    t.delete_where_mor("k = 1", keys=["k", "v"])
    t.delete_where_mor("k = 2", keys=["v", "k"])  # same set, reordered
    assert sorted(r.k for r in t.read().collect()) == [3]
    with _pytest.raises(ValueError, match="key set mismatch"):
        t.delete_where_mor("k = 3", keys=["k", "s"])


def test_pruned_scan_applies_mor_deletes(spark, tmp_table_dir):
    """Round-10 fix: scan() (the pruned-read path) must apply
    outstanding merge-on-read deletes exactly like read() — it used to
    read kept files raw and resurrect deleted rows on any pruned
    read. Both delete kinds, with and without predicates."""
    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create_as(
        spark,
        tmp_table_dir,
        spark.createDataFrame([(i, i * 10) for i in range(6)], "k int, v int"),
    )
    t.delete_where_mor("k = 2", keys=["k"])
    assert sorted(r.k for r in t.scan().collect()) == [0, 1, 3, 4, 5]
    assert sorted(
        r.k for r in t.scan([Pred("k", "between", (0, 5))]).collect()
    ) == [0, 1, 3, 4, 5]
    # positional deletes through the same path
    t.delete_where_pos("k = 4")
    assert sorted(
        r.k for r in t.scan([Pred("k", "between", (0, 5))]).collect()
    ) == [0, 1, 3, 5]


def test_delete_keys_mor_by_explicit_key_set(spark, tmp_table_dir):
    """delete_keys_mor: the changelog-consumer delete form — an
    explicit key DataFrame, no table scan, same sequence rule and
    key-set guard as delete_where_mor; later appends survive."""
    import pytest as _pytest

    from iceberg_workshop_spark.icetbl import IceTable

    t = IceTable.create_as(
        spark,
        tmp_table_dir,
        spark.createDataFrame([(i, i * 10) for i in range(5)], "k int, v int"),
    )
    rep = t.delete_keys_mor(
        spark.createDataFrame([(1,), (3,), (99,)], "k int"), keys=["k"]
    )
    assert rep["keys_deleted"] == 3  # 99 matches nothing but is carried
    assert sorted(r.k for r in t.read().collect()) == [0, 2, 4]
    # strictly-older rule: a re-appended key 1 is NOT masked
    t.append(spark.createDataFrame([(1, 111)], "k int, v int"))
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 4]
    # key-set guard still applies
    with _pytest.raises(ValueError, match="key set mismatch"):
        t.delete_keys_mor(spark.createDataFrame([(0, 0)], "k int, v int"), keys=["k", "v"])


def test_stream_rename_then_readd_matches_batch(spark, tmp_table_dir):
    """Streaming counterpart of the round-10 batch era-identity fix
    (round-11 review): after RENAME a->b and a re-ADDED `a`, a stream
    STARTED on the evolved table must resolve the declared `a` to the
    NEW column — the unconditional forward rename-walk used to map it
    back onto physical `b` and silently emit the old data."""
    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.sources.pysource import _IceStreamReader

    t = IceTable.create_as(
        spark,
        tmp_table_dir,
        spark.createDataFrame([(1, 10)], "id int, a int"),
    )
    t.rename_column("a", "b")
    t.add_column("a", "int")
    t.append(spark.createDataFrame([(2, 20, 200)], "id int, b int, a int"))

    r = _IceStreamReader({"location": tmp_table_dir})
    head = {"sid": t.meta.current_snapshot_id}
    got = sorted(
        row
        for p in r.partitions({"sid": 0}, head)
        for b in r.read(p)
        for row in zip(*[c.to_pylist() for c in b.columns])
    )
    # stream == batch: old file feeds b from physical a, new 'a' NULL
    assert got == [(1, 10, None), (2, 20, 200)], got


def test_manifest_read_launches_no_listing_job(spark, tmp_path):
    """A table read hands Spark the manifest's file list; building the
    DataFrame must not start a distributed listing job, even above
    Spark's default threshold of 32 paths."""
    t = IceTable.create(
        spark, str(tmp_path / "many"), "k bigint, v bigint",
        partition_spec=[spec_field("k")],
    )
    t.append(spark.range(40).selectExpr("id AS k", "id AS v"))
    assert len(t.meta.current_files()) > 32
    sc = spark.sparkContext
    group = f"listing-probe-{os.getpid()}-{tmp_path.name}"
    sc.setJobGroup(group, "build a table read")
    try:
        df = t.read()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert df.count() == 40
