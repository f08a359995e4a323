"""Property test for the front-end MERGE reduction: random
target/source overlaps and random clause subsets (conditional MATCHED
UPDATE/DELETE, NOT MATCHED INSERT, NOT MATCHED BY SOURCE
UPDATE/DELETE) must match a row-by-row Python model — catches clause
precedence and effect-set mistakes the scripted oracle can't."""

from __future__ import annotations

import random

import pytest

from iceberg_workshop_spark.icetbl import IceTable, spec_field
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession


@pytest.mark.parametrize(
    "seed, bucketed",
    [pytest.param(seed, False, id=str(seed)) for seed in (0, 1, 2)]
    # a multi-file target: the MERGE rewrites only the files its
    # source keys or NOT MATCHED BY SOURCE claims touch, and carries
    # the rest verbatim
    + [pytest.param(seed, True, id=f"bucketed-{seed}") for seed in (0, 1, 2)],
)
def test_random_merge_matches_model(spark, tmp_path, seed, bucketed):
    rng = random.Random(seed)
    n = 60
    rows = [
        (k, rng.choice("OFP"), rng.randint(1, 100))
        for k in range(n)
    ]
    tgt_rows = [r for r in rows if r[0] % 2 == 0]
    src_keys = {k for k in range(n) if rng.random() < 0.5}
    src_rows = [(k, rng.randint(1, 100)) for k in sorted(src_keys)]

    tbl = IceTable.create_as(
        spark,
        str(tmp_path / f"merge{seed}"),
        spark.createDataFrame(tgt_rows, "k bigint, st string, p bigint"),
        [spec_field("k", "bucket[8]")] if bucketed else None,
    )
    if bucketed:
        assert len(tbl.meta.current_files()) == 8
    sess = IceSqlSession(spark)
    sess.register_table("db.t", tbl)
    sess.register_view(
        "db.s", spark.createDataFrame(src_rows, "k bigint, sp bigint")
    )

    # Random clause set (always at least one).
    del_st = rng.choice("OFP")
    cut1 = rng.randint(1, 100)
    cut2 = rng.randint(1, 100)
    use = {
        "m_del": rng.random() < 0.7,
        "m_upd": rng.random() < 0.7,
        "ins": rng.random() < 0.7,
        "n_upd": rng.random() < 0.7,
        "n_del": rng.random() < 0.7,
    }
    if not any(use.values()):
        use["m_upd"] = True
    clauses = []
    if use["m_del"]:
        clauses.append(f"WHEN MATCHED AND st = '{del_st}' THEN DELETE")
    if use["m_upd"]:
        clauses.append("WHEN MATCHED THEN UPDATE SET st = 'M'")
    if use["ins"]:
        clauses.append("WHEN NOT MATCHED THEN INSERT VALUES (source.k, 'I', source.sp)")
    if use["n_upd"]:
        clauses.append(
            f"WHEN NOT MATCHED BY SOURCE AND p < {cut1} THEN UPDATE SET st = 'X'"
        )
    if use["n_del"]:
        clauses.append(
            f"WHEN NOT MATCHED BY SOURCE AND p >= {cut2} THEN DELETE"
        )
    sess.sql(
        "MERGE INTO db.t AS target USING db.s AS source ON k = source.k\n"
        + "\n".join(clauses)
    )

    # Python model, same first-applicable-wins semantics.
    expected = {}
    src_by_k = dict(src_rows)
    tgt_keys = {r[0] for r in tgt_rows}
    for k, st, p in tgt_rows:
        if k in src_by_k:
            if use["m_del"] and st == del_st:
                continue
            if use["m_upd"]:
                expected[k] = ("M", p)
            else:
                expected[k] = (st, p)
        else:
            if use["n_upd"] and p < cut1:
                expected[k] = ("X", p)
            elif use["n_del"] and p >= cut2:
                continue
            else:
                expected[k] = (st, p)
    if use["ins"]:
        for k, sp in src_rows:
            if k not in tgt_keys:
                expected[k] = ("I", sp)

    got = {
        r["k"]: (r["st"], r["p"]) for r in tbl.read().collect()
    }
    assert got == expected, (
        f"seed={seed} clauses={use} del_st={del_st} cut1={cut1} cut2={cut2}"
    )
