"""Focused tests for the round-15 optimization changes.

Round 15 re-adjudicated the round-14 eager-checkpoint/persist staging
(VERDICT r14 "Next round" #2-#4):

1. The triangle queries no longer register session-lifetime
   ``iws_gr_*`` temp views over checkpointed RDDs — the staged form
   pinned the full edge set in executor storage for every query that
   ran after them. They must leave the temp-view catalog and the
   CacheManager exactly as they found it.
2. Every dedup/graph query that persists intermediates must release
   them before returning (persists are invocation-scoped — the bench
   re-invokes queries, and a leaked persist makes later invocations
   silently reuse the first run's materialized cache). The
   registry-wide hygiene assertion in test_oracle_parity checks this
   for every query; the cases here only run the queries.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _iws_gr_views(spark) -> list[str]:
    return [
        v.name
        for v in spark.catalog.listTables()
        if v.name.startswith("iws_gr_") and v.name != "iws_gr_lineitem"
    ]


def test_triangles_leave_no_temp_view_pins(spark):
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    before_views = set(_iws_gr_views(spark))
    row = qs["q_graph_triangles"](spark, SF_DIR).collect()[0]
    assert row["n_triangles"] >= 0 and row["n_edges"] > 0
    row = qs["q_graph_triangles_approx"](spark, SF_DIR).collect()[0]
    assert row["est_triangles"] >= 0
    assert set(_iws_gr_views(spark)) == before_views, (
        "triangle queries must not register staged temp views"
    )


@pytest.mark.parametrize(
    "name",
    [
        "q_graph_pagerank",
        "q_llm_dedup_ngram",
        "q_llm_dedup_prefix",
        "q_llm_dedup_near",
        "q_llm_dedup_minhash",
        "q_llm_dedup_clusters",
    ],
)
def test_query_releases_every_persist(spark, name):
    # The queries the round-14/15 audits found persisting frames into a
    # LAZILY returned plan. The CacheManager check that was here only
    # ran when the cache happened to be empty beforehand; the
    # registry-wide hygiene assertion in test_oracle_parity now checks
    # every query unconditionally.
    from iceberg_workshop_spark.registry import queries

    queries()[name](spark, SF_DIR)
