"""Lakehouse-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``query_mix``: one registry query from each analytic family, in
  seeded order, then n-gram dedup and IVF similarity search;
- ``table_churn``: writes, reads and maintenance against an IceTable.

The engine runs on ``local[nproc]`` (or ``$SPARK_GRAFT_CPUS``) and is
driven by one closed-loop client: each call starts when the previous
one has returned. A run sets up the session three times and reports
the median set-up time, then measures whole passes over the
workload's seeded op list until at least ``--seconds`` of timed work
is done. Output checks, shadow replays and session-hygiene counters
run between operations, outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and the benchmark's spans and prints the per-layer
metrics; ``trace.overhead_frac`` compares its timed work with the
untraced runs of this checkout. Every run writes a full record under
``.perfbench/records``; ``perfbench/compare.py`` summarises and
compares records.

The input tables are generated once per checkout under
``.perfbench/data``; everything a run writes stays under
``.perfbench``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("query_mix", "table_churn")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location into the checkout and pass Spark
    confs through spark-submit, before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    confs = [
        "spark.ui.showConsoleProgress=false",
        # no hsperfdata file under /tmp
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        from tracing import event_log_confs

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += event_log_confs(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs
    ) + " pyspark-shell"


def untraced_wall(args, records_dir: str) -> float:
    """Median timed work of this checkout's untraced runs of the
    workload. If there are none, one is made first, with this seed, in
    a child process."""
    paths = glob.glob(os.path.join(records_dir, "s*-t0.json"))
    if not paths:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
        paths = glob.glob(os.path.join(records_dir, "s*-t0.json"))
    walls = []
    for path in paths:
        with open(path) as fh:
            walls.append(json.load(fh)["end_to_end"]["wall_s"])
    return statistics.median(walls)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import iceberg_workshop_spark  # noqa: F401  (fails outside a checkout)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    records_dir = os.path.join(STATE, "records", args.workload)
    os.makedirs(records_dir, exist_ok=True)
    reference_wall = untraced_wall(args, records_dir) if args.trace else None

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(STATE, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, bool(args.trace))

    import datagen
    from harness import Bench, loadavg

    data_dir = datagen.ensure(os.path.join(STATE, "data"))
    bench = Bench(args, run_id, run_dir, data_dir, STATE)
    try:
        record = bench.execute()
    finally:
        bench.close()
    record["meta"]["loadavg_after"] = loadavg()
    if args.trace:
        record["per_layer"]["trace.overhead_frac"] = (
            record["end_to_end"]["wall_s"] / reference_wall - 1.0
        )
        names, measured = spec["per_layer"], record["per_layer"]
    else:
        names, measured = spec["end_to_end"], record["end_to_end"]
    with open(os.path.join(records_dir, f"s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    checks = record["checks"]
    print(json.dumps({
        "correct": checks["failed"] == 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
