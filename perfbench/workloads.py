"""The registry workload, ``query_mix``: the workshop's analytic SQL
and two LLM data-pipeline queries.

Each op calls ``registry.queries()[name](spark, data_dir)`` and then
the noop write that ``bench.py`` also uses as the final action, so the
plan runs in full with nothing collected into Python.
"""

from __future__ import annotations

import numpy as np

# One oracle-backed query from each analytic family the workshop covers
# (scan, filter, join, agg, win, sort, set, fn, subquery, cte), and
# the LLM-pipeline pair: exact n-gram dedup, which runs 15-16 Spark jobs
# (the dedup family's job swarm), and the IVF similarity search. Every
# pass runs the same queries: the seed draws the order of the analytic
# ones, and the LLM pair closes the pass, because the n-gram dedup runs
# up to 40% slower early in a fresh JVM than late. A seeded sample of
# the 132 analytic queries, even one stratified by cost, spread wall
# time by a quarter between seeds; the MinHash, SimHash and containment
# dedup queries cost 10-20 s each on a fresh JVM, which does not fit a
# run.
ANALYTIC = (
    "q_scan_csv", "q_filter_in_like_null", "q_join_multiway", "q_agg_groupby",
    "q_win_topk_per_group", "q_sort_multi", "q_set_union_all", "q_fn_string",
    "q_subquery_scalar", "q_cte_recursive",
)
LLM = ("q_llm_dedup_ngram", "q_llm_simsearch_ivf")

# Set-up runs one cheap query outside the measured lists: it loads the
# engine's classes and compiles a scan before the timed pass, without
# pre-warming any measured query.
WARMUP = "q_select_star"


def family(name: str) -> str:
    return "llm" if name.startswith("q_llm_") else "analytic"


def plan_pass(rng: np.random.Generator) -> list[str]:
    return [str(n) for n in rng.permutation(ANALYTIC)] + list(LLM)


def run(qs, name: str, spark, data_dir: str, tracer, i: int):
    """The timed call: build the query, then run it to completion."""
    with tracer.span("registry.construct", i):
        df = qs[name](spark, data_dir)
    with tracer.span("registry.action", i):
        df.write.format("noop").mode("overwrite").save()
    return df
