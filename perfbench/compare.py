"""Summarise one set of benchmark run records, or compare two.

    python3 perfbench/compare.py RECORDS_A [RECORDS_B]

A records directory is what ``run.py`` writes under
``.perfbench/records``: one sub-directory per workload holding
``s<seed>-t0.json`` (untraced) and ``s<seed>-t1.json`` (traced) files.
Copy it aside between the two commits being compared.

With one set, prints per workload every end-to-end metric (median and
quartiles over the runs, with unit), the median and tail op latency
and peak memory, the output-check result and ``error_rate``, the
hygiene counters and the table-layer counters, and the median of every
per-layer metric over the traced runs with the end-to-end metric it
should move (``layers.json``).

With two sets, prints one row per workload and end-to-end metric: both
medians, the change, each set's spread (quartile distance over median)
and a verdict against the bound in ``BENCHMARK.json``:

- ``unresolved``: a set's spread is wider than the bound, and not every
  run of B reads better than every run of A;
- ``worse``: B's median is worse than A's by more than the bound;
- ``better``: B's median is better by more than A's spread and B wins
  at least nine tenths of the seed-matched pairs;
- ``same``: none of these.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(records: str, trace: int) -> dict[str, dict[int, dict]]:
    """{workload: {seed: record}} for one trace mode."""
    out: dict[str, dict[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(records, "*", f"s*-t{trace}.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        out.setdefault(rec["meta"]["workload"], {})[rec["meta"]["seed"]] = rec
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def summarise(records: str, spec: dict, layers: dict) -> None:
    runs, traced = load(records, 0), load(records, 1)
    for workload in sorted(set(runs) | set(traced)):
        recs = list(runs.get(workload, {}).values())
        print(f"== {workload}: {len(recs)} untraced run(s), "
              f"{len(traced.get(workload, {}))} traced")
        if recs:
            for m in spec["end_to_end"]:
                vals = [r["end_to_end"][m["name"]] for r in recs]
                q1, q2, q3 = quartiles(vals)
                print(f"  {m['name']:<14} {q2:12.4f} {m['unit']:<6} "
                      f"[{q1:.4f}, {q3:.4f}]  spread {spread(vals):.3f} "
                      f"(bound {m['bound']})")
            # recorded but not bounded: too few ops per run for a steady
            # median or tail, and the JVM's high-water mark follows its GC
            for name, unit in (("op_p50_s", "s"), ("op_tail_s", "s"), ("peak_rss_mb", "MB")):
                vals = [r["end_to_end"][name] for r in recs]
                print(f"  {name:<14} {statistics.median(vals):12.4f} {unit:<6} "
                      f"spread {spread(vals):.3f} (not bounded)")
            pct = sorted({r["meta"]["op_tail"]["percentile"] for r in recs})
            n = sorted({r["meta"]["op_tail"]["samples"] for r in recs})
            print(f"  op_tail_s is percentile {pct} of {n} ops per run")
            attempted = sum(r["checks"]["attempted"] for r in recs)
            failed = sum(r["checks"]["failed"] for r in recs)
            print(f"  checks: {attempted - failed}/{attempted} ops correct, "
                  f"error_rate {failed / attempted:.4f}")
            for r in recs:
                for o in r["ops"]:
                    if not o["ok"]:
                        print(f"    seed {r['meta']['seed']} op {o['i']} {o['name']}: "
                              f"{o['error'] or 'output mismatch'}")
            leaks = {k: sum(o["leak"][k] for r in recs for o in r["ops"])
                     for k in ("persisted_rdds", "temp_views", "conf_changes")}
            print(f"  leaks over all ops: {leaks}")
            for k in sorted({k for r in recs for k in r["table"]}):
                vals = [r["table"][k] for r in recs]
                print(f"  table.{k:<26} {statistics.median(vals):12.4f}")
        trecs = list(traced.get(workload, {}).values())
        for m in spec["per_layer"] if trecs else []:
            vals = [r["per_layer"][m["name"]] for r in trecs]
            print(f"  {m['name']:<32} {statistics.median(vals):12.4f} {m['unit']:<6} "
                  f"moves {layers.get(m['name'], '-')}")


def compare(a_dir: str, b_dir: str, spec: dict) -> None:
    a_runs, b_runs = load(a_dir, 0), load(b_dir, 0)
    print(f"{'workload':<12} {'metric':<12} {'A':>11} {'B':>11} {'change':>8} "
          f"{'sprA':>6} {'sprB':>6} {'bound':>6}  verdict")
    for workload in sorted(set(a_runs) & set(b_runs)):
        a, b = a_runs[workload], b_runs[workload]
        for m in spec["end_to_end"]:
            av = [r["end_to_end"][m["name"]] for r in a.values()]
            bv = [r["end_to_end"][m["name"]] for r in b.values()]
            sign = 1.0 if m["better"] == "lower" else -1.0
            ma, mb = statistics.median(av), statistics.median(bv)
            change = (mb - ma) / ma
            worse_by = sign * change
            sa, sb = spread(av), spread(bv)
            all_better = (max(bv) < min(av)) if sign > 0 else (min(bv) > max(av))
            pairs = [(a[s]["end_to_end"][m["name"]], b[s]["end_to_end"][m["name"]])
                     for s in sorted(set(a) & set(b))]
            wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
            if max(sa, sb) > m["bound"] and not all_better:
                verdict = "unresolved"
            elif worse_by > m["bound"]:
                verdict = "worse"
            elif -worse_by > sa and pairs and wins >= 0.9 * len(pairs):
                verdict = f"better ({wins}/{len(pairs)} pairs)"
            else:
                verdict = "same"
            print(f"{workload:<12} {m['name']:<12} {ma:11.4f} {mb:11.4f} "
                  f"{change:+8.1%} {sa:6.3f} {sb:6.3f} {m['bound']:6.2f}  {verdict}")


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    if len(argv) == 1:
        summarise(argv[0], spec, layers)
    else:
        compare(argv[0], argv[1], spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
