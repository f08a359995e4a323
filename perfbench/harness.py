"""One benchmark run: set-up, timed passes, checks, metrics."""

from __future__ import annotations

import os
import platform
import resource
import statistics
import time

import numpy as np

import workloads
from checks import Oracle, frame_hash
from tracing import Hygiene, Tracer, covered, read_event_log

SETUP_REPS = 3
TAIL_SAMPLES = 10


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least TAIL_SAMPLES samples above
    it, never below the median (small runs report the median);
    returns (percentile, value) by the nearest-rank rule."""
    n = len(values)
    pct = max(50.0, 100.0 * (1 - TAIL_SAMPLES / n))
    k = min(n, max(1, int(np.ceil(pct / 100.0 * n))))
    return pct, sorted(values)[k - 1]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_class(workload: str, name: str) -> str:
    """``analytic`` or ``llm`` on query_mix; ``write``, ``read`` or
    ``maintenance`` on table_churn."""
    if workload == "query_mix":
        return workloads.family(name)
    from churn import READS, WRITES

    if name in WRITES:
        return "write"
    return "read" if name in READS else "maintenance"


class Bench:
    def __init__(self, args, run_id: str, run_dir: str, data_dir: str, state: str) -> None:
        self.args = args
        self.workload = args.workload
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.state = state
        self.tracer = Tracer(run_id, enabled=bool(args.trace))
        self.spark = None
        self.churn = None

    # -- set-up ------------------------------------------------------------
    def _setup(self) -> list[float]:
        """Start the session and warm it, SETUP_REPS times; the last
        session is kept. Returns each repetition's seconds."""
        from iceberg_workshop_spark.registry import queries
        from iceberg_workshop_spark.session import get_spark

        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                spark = get_spark("perfbench")
            spark.sparkContext.setJobGroup("setup", "set-up")
            if self.workload == "table_churn":
                from churn import Churn

                self.churn = Churn(spark, self.data_dir,
                                   os.path.join(self.run_dir, "tables"), self.tracer)
                self.churn.create(str(rep))
            else:
                queries()[workloads.WARMUP](spark, self.data_dir).write.format(
                    "noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                spark.stop()
        self.spark = spark
        return times

    # -- timed passes ---------------------------------------------------------
    def _measure(self) -> list[dict]:
        from iceberg_workshop_spark.registry import oracle_sql, queries

        qs, osql = queries(), oracle_sql()
        oracle = Oracle(self.data_dir, os.path.join(self.state, "oracle"))
        rng = np.random.default_rng(self.args.seed)
        if self.churn is not None:
            from churn import plan_pass

            self.churn.start()
        else:
            plan_pass = workloads.plan_pass
        hygiene = Hygiene(self.spark)
        ops: list[dict] = []
        timed = 0.0
        try:
            while True:
                for name in plan_pass(rng):
                    rec = self._op(len(ops), name, rng, qs, osql, oracle)
                    rec["leak"] = hygiene.delta()
                    ops.append(rec)
                    timed += rec["wall_s"]
                if timed >= self.args.seconds:
                    return ops
        finally:
            oracle.close()

    def _op(self, i: int, name: str, rng, qs, osql, oracle) -> dict:
        sc = self.spark.sparkContext
        churn = self.churn
        rec = {"i": i, "name": name, "class": op_class(self.workload, name)}
        params = churn.prepare(name, rng) if churn else None
        if churn:
            churn.before()
        sc.setJobGroup(f"{self.workload}#{i}", name)
        err = result = None
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", i):
                if churn:
                    churn.run(params, i)
                else:
                    result = workloads.run(qs, name, self.spark, self.data_dir,
                                           self.tracer, i)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            err = f"{type(exc).__name__}: {exc}"[:500]
        rec["wall_s"] = time.perf_counter() - t0
        rec["end"] = time.time()
        sc.setJobGroup(f"check#{i}", f"check {name}")
        ok = False
        if err is None:
            try:
                if churn:
                    ok = churn.check(params)
                else:
                    rec["check"] = self._check_query(name, result, osql, oracle)
                    ok = rec["check"]["ok"]
            except Exception as exc:  # noqa: BLE001 — a failed check is counted
                err = f"check {type(exc).__name__}: {exc}"[:500]
        rec["ok"] = ok
        rec["error"] = err
        return rec

    @staticmethod
    def _check_query(name: str, df, osql, oracle) -> dict:
        got = frame_hash(df.toPandas(), name)
        want = oracle.expected(name, osql[name])
        return {"ok": got == want, "got": got, "want": want}

    # -- the run ----------------------------------------------------------------
    def execute(self) -> dict:
        meta = {
            "workload": self.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_before": loadavg(),
            "python": platform.python_version(),
            "started_unix": time.time(),
        }
        setup_times = self._setup()
        import pyspark

        meta["pyspark"] = pyspark.__version__
        ops = self._measure()
        meta["order"] = [o["name"] for o in ops]
        walls = [o["wall_s"] for o in ops]
        pct, tail_value = tail(walls)
        meta["op_tail"] = {"percentile": pct, "samples": len(walls)}
        wall = sum(walls)
        table = self.churn.finish() if self.churn else {}
        end_to_end = {
            "setup_s": statistics.median(setup_times),
            "wall_s": wall,
            "ops_per_s": len(ops) / wall,
            "op_p50_s": statistics.median(walls),
            "op_tail_s": tail_value,
            "peak_rss_mb": self._peak_rss_mb(),
        }
        failed = sum(1 for o in ops if not o["ok"])
        record = {
            "meta": meta,
            "setup_reps_s": setup_times,
            "end_to_end": end_to_end,
            "checks": {"attempted": len(ops), "failed": failed,
                       "error_rate": failed / len(ops)},
            "table": table,
            "ops": ops,
        }
        self._stop()
        if self.args.trace:
            record["per_layer"] = self._per_layer(ops, table)
            self.tracer.dump(os.path.join(self.state, "records", self.workload,
                                          f"s{self.args.seed}-spans.json"))
        return record

    def _peak_rss_mb(self) -> float:
        """High-water resident memory of this Python process plus the
        JVM that runs Spark."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024.0

    def _stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM this process started."""
        from pyspark import SparkContext

        self._stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- per-layer -------------------------------------------------------------
    def _per_layer(self, ops: list[dict], table: dict) -> dict:
        spans = self.tracer.spans
        groups = read_event_log(os.path.join(self.run_dir, "eventlog"))
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))

        def dur(name: str) -> list[float]:
            return [s["end"] - s["start"] for s in spans if s["name"] == name]

        per_op = []
        for o in ops:
            g = groups.get(f"{self.workload}#{o['i']}", {})
            busy = covered(g.get("job_spans", []), o["start"], o["end"])
            per_op.append({**{k: g.get(k, 0) for k in (
                "jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_bytes", "spill_bytes")},
                "driver_gap_s": max(0.0, (o["end"] - o["start"]) - busy)})
            o["spark"] = per_op[-1]
        wall = sum(o["wall_s"] for o in ops)
        out = {
            "session.start_s": statistics.median(dur("session.start")),
            "registry.construct_s": mean(dur("registry.construct")),
            "registry.action_s": mean(dur("registry.action")),
            "spark.jobs": mean(p["jobs"] for p in per_op),
            "spark.stages": mean(p["stages"] for p in per_op),
            "spark.tasks": mean(p["tasks"] for p in per_op),
            "spark.driver_gap_s": mean(p["driver_gap_s"] for p in per_op),
            "spark.executor_run_s": mean(p["executor_run_s"] for p in per_op),
            "spark.core_fill": sum(p["executor_run_s"] for p in per_op) / (wall * cores),
            "spark.shuffle_write_mb": mean(p["shuffle_write_bytes"] for p in per_op) / 2**20,
            "spark.spill_mb": mean(p["spill_bytes"] for p in per_op) / 2**20,
        }
        from churn import KIND_METRICS

        for metric, names in KIND_METRICS.items():
            out[f"icetbl.{metric}_s"] = mean(o["wall_s"] for o in ops if o["name"] in names)
        for name in ("scan", "read_tt", "load"):
            out[f"icetbl.{name}_s"] = mean(dur(f"icetbl.{name}"))
        for k in ("scan_files_frac", "scan_bytes_frac", "delete_files_read",
                  "files_rewritten_per_write", "files_live_max",
                  "snapshots_live_max", "metadata_mb"):
            out[f"icetbl.{k}"] = float(table.get(k, 0.0))
        out["sqlfront.sql_s"] = mean(dur("sqlfront.sql"))
        out["sqlfront.api_gap_s"] = self._api_gap(ops)
        for k in ("persisted_rdds", "temp_views", "conf_changes"):
            out[f"leak.{k}"] = float(sum(o["leak"][k] for o in ops))
        for fam in ("analytic", "llm"):
            mine = [(o, p) for o, p in zip(ops, per_op) if o["class"] == fam]
            out[f"{fam}.op_s"] = mean(o["wall_s"] for o, _ in mine)
            out[f"{fam}.jobs"] = mean(p["jobs"] for _, p in mine)
        reads = [o["wall_s"] for o in ops if o["class"] == "read"]
        writes = [o["wall_s"] for o in ops if o["class"] == "write"]
        churn = self.workload == "table_churn"
        out["churn.read_p50_s"] = statistics.median(reads) if churn else 0.0
        out["churn.write_p50_s"] = statistics.median(writes) if churn else 0.0
        out["churn.write_amp"] = float(table.get("write_amp", 0.0))
        out["churn.space_amp"] = float(table.get("space_amp", 0.0))
        return out

    @staticmethod
    def _api_gap(ops: list[dict]) -> float:
        """Mean, over write kinds run both ways, of the SQL path's mean
        latency minus the API path's."""
        by: dict[tuple[str, bool], list[float]] = {}
        for o in ops:
            kind, _, path = o["name"].partition("@")
            by.setdefault((kind, path == "sql"), []).append(o["wall_s"])
        return mean(mean(by[(k, True)]) - mean(by[(k, False)])
                    for k, sql in by if sql and (k, False) in by)
