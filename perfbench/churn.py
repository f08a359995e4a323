"""table_churn: a seeded stream of writes, reads and maintenance against
an IceTable built from ``orders``, checked against a DuckDB shadow.

The table is keyed on ``o_orderkey`` and partitioned by
``month(o_orderdate)``. Key ranges cut across every partition; month
ranges line up with them. Each pass holds seven writes in a fixed
order (append, MERGE, UPDATE, copy-on-write DELETE by key range,
merge-on-read positional DELETE, copy-on-write DELETE by month range
through the API and again as SQL), three of them SQL text through
``IceSqlSession``; seven reads in seeded order (pruned scans by month
and by key range, time-travel reads); then compaction and snapshot
expiry. The shadow replays every write. After each write
the committed table, and after each read its result, must match the
shadow in row count and in an order-insensitive hash of every value.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pandas as pd

from iceberg_workshop_spark.icetbl import IceTable, Pred, spec_field
from iceberg_workshop_spark.icetbl import dml, maintenance
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession
from iceberg_workshop_spark.sources.tables import load
from harness import mean

TABLE = "bench.orders"
SOURCE = "bench.src"
DDL = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
       "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
COLUMNS = [c.split()[0] for c in DDL.split(", ")]
# Every pass runs these writes in this order, so that each pass takes
# the table through the same sequence of states. MERGE and UPDATE go
# through the SQL front end; the month-range DELETE runs both ways, so
# each pass measures the SQL path against the API path on one kind.
# The seed draws where the reads fall between the writes, and every key
# range and month; a time-travel read goes back to the oldest live
# snapshot.
WRITES = ("append", "merge@sql", "update@sql", "delete_key", "delete_pos",
          "delete_date", "delete_date@sql")
READS = ("scan_date", "scan_date", "scan_date", "scan_key", "scan_key",
         "read_tt", "read_tt")
# Per-layer latency metrics of the writes and maintenance, from the ops
# of each kind whichever path issued them.
KIND_METRICS = {
    "append": ("append",), "merge": ("merge@sql",), "update": ("update@sql",),
    "delete_cow": ("delete_key", "delete_date"), "delete_pos": ("delete_pos",),
    "compact": ("compact",), "expire": ("expire",),
}
RETAIN_SNAPSHOTS = 4
# Op sizes are fixed, so that a pass does the same amount of work
# whatever the seed; the seed places the key ranges and months.
MERGE_KEYS, MERGE_NEW = 600, 60
APPEND_ROWS = 1000
RANGE_KEYS = 500

# Per-row hash over every column, written once for both engines; only
# the day number needs engine-specific SQL.
ROW_HASH = (
    "o_orderkey * 1000003 + o_custkey * 10007"
    " + CAST(round(o_totalprice * 100) AS BIGINT) * 101 + {days} * 7919"
    " + ascii(o_orderstatus) * 31 + ascii(o_orderpriority) * 7"
    " + length(o_orderpriority)"
)
SPARK_DAYS = "datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
DUCK_DAYS = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
FIRST_MONTH = dt.datetime(1995, 1, 1)
N_MONTHS = 80


def plan_pass(rng: np.random.Generator) -> list[str]:
    """One pass: each write followed by a read, then compaction and
    expiry. A write tagged ``@sql`` is issued as SQL text."""
    reads = [str(r) for r in rng.permutation(READS)]
    ops = [x for pair in zip(WRITES, reads) for x in pair]
    return ops + ["compact", "expire"]


def _month(i: int) -> dt.datetime:
    y, m = divmod(FIRST_MONTH.month - 1 + i, 12)
    return dt.datetime(FIRST_MONTH.year + y, m + 1, 1)


def _lit(ts: dt.datetime) -> str:
    return f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}'"


class Churn:
    def __init__(self, spark, data_dir: str, work_dir: str, tracer) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tr = tracer
        self.tbl: IceTable | None = None

    # -- set-up ----------------------------------------------------------
    def create(self, tag: str) -> None:
        """Set-up: build the table from ``orders``, and run one SQL MERGE
        on a 1,000-row copy, so that the timed MERGE, the costliest and
        most variable write, does not also pay the JVM's first
        compilation of its code paths."""
        orders = load(self.spark, self.data_dir, "orders").select(*COLUMNS)
        spec = [spec_field("o_orderdate", "month")]
        warm = IceTable.create_as(
            self.spark, os.path.join(self.work_dir, f"warm-{tag}"), orders.limit(1000), spec
        )
        sess = IceSqlSession(self.spark, scratch=os.path.join(self.work_dir, f"warm-sql-{tag}"))
        sess.register_table(TABLE, warm)
        sess.register_view(SOURCE, orders.limit(100))
        sess.sql(self._sql({"kind": "merge"}))
        self.loc = os.path.join(self.work_dir, f"orders-{tag}")
        self.tbl = IceTable.create_as(self.spark, self.loc, orders, spec)

    def start(self) -> None:
        """Shadow, SQL session and bookkeeping for the timed passes."""
        self.duck = duckdb.connect()
        self.duck.execute("SET TimeZone = 'UTC'")
        self.duck.execute(
            "CREATE TABLE shadow AS SELECT "
            + ", ".join(COLUMNS)
            + f" FROM read_parquet('{os.path.join(self.data_dir, 'orders.parquet')}')"
        )
        self.sess = IceSqlSession(self.spark, scratch=os.path.join(self.work_dir, "sql"))
        self.sess.register_table(TABLE, self.tbl)
        self.next_key = int(self.duck.execute("SELECT max(o_orderkey) + 1 FROM shadow").fetchone()[0])
        self.fingerprints = {self.tbl.meta.current_snapshot_id: self._shadow_fp()}
        self.seen_files = self._data_files()
        self.stats = {
            "bytes_written": 0, "bytes_changed": 0.0, "files_rewritten": [],
            "files_live_max": 0, "snapshots_live_max": 0,
            "scan_files_frac": [], "scan_bytes_frac": [], "delete_files_read": [],
        }

    # -- fingerprints ----------------------------------------------------
    def _spark_fp(self, df) -> tuple[int, int]:
        row = df.selectExpr(
            "count(*) AS n", f"sum({ROW_HASH.format(days=SPARK_DAYS)}) AS h"
        ).first()
        return int(row["n"]), int(row["h"] or 0)

    def _committed_fp(self) -> tuple[int, int]:
        """Fingerprint of the current snapshot, read by DuckDB straight
        from the data files the table metadata lists, minus the rows its
        positional delete files name. This checks what a write committed
        independently of the engine's own read path, which the read ops
        check. Other delete kinds go through the engine's read."""
        meta = self.tbl.meta
        snap = meta.snapshot(meta.current_snapshot_id)
        files = [f["path"] for f in meta.files(snap)]
        dels = meta.delete_entries(snap)
        if any(d.get("kind") != "pos" for d in dels):
            return self._spark_fp(self.tbl.read())
        if not files:
            return 0, 0
        rows = (f"read_parquet({files!r}, filename = true, "
                "file_row_number = true, hive_partitioning = false)")
        where = "true"
        if dels:
            where = (
                "NOT EXISTS (SELECT 1 FROM read_parquet("
                f"{[d['path'] for d in dels]!r}, hive_partitioning = false) d "
                "WHERE d.pos = t.file_row_number "
                "AND regexp_replace(d.file_path, '^file:(//)?', '') = t.filename)"
            )
        n, h = self.duck.execute(
            f"SELECT count(*), CAST(coalesce(sum({ROW_HASH.format(days=DUCK_DAYS)}), 0) "
            f"AS BIGINT) FROM {rows} t WHERE {where}"
        ).fetchone()
        return int(n), int(h)

    def _shadow_fp(self, where: str = "true") -> tuple[int, int]:
        n, h = self.duck.execute(
            f"SELECT count(*), CAST(coalesce(sum({ROW_HASH.format(days=DUCK_DAYS)}), 0) "
            f"AS BIGINT) FROM shadow WHERE {where}"
        ).fetchone()
        return int(n), int(h)

    def _data_files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, names in os.walk(os.path.join(self.loc, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = os.path.getsize(p)
        return out

    # -- op inputs ---------------------------------------------------------
    def _key_range(self, rng, n: int) -> tuple[int, int]:
        a = int(rng.integers(0, self.next_key - n))
        return a, a + n - 1

    def _rows(self, rng, keys: np.ndarray) -> pd.DataFrame:
        n = len(keys)
        days = rng.integers(0, (dt.datetime(2001, 8, 1) - FIRST_MONTH).days + 1, n)
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": (np.datetime64(FIRST_MONTH.date(), "us")
                            + days.astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n)],
        })

    def prepare(self, op: str, rng) -> dict:
        """Draw the op's parameters and build its input rows. Runs
        before the timed region."""
        kind, _, path = op.partition("@")
        p: dict = {"kind": kind, "sql": path == "sql"}
        if kind == "merge":
            a, b = self._key_range(rng, MERGE_KEYS)
            keys = np.concatenate([np.arange(a, b + 1),
                                   np.arange(self.next_key, self.next_key + MERGE_NEW)])
            self.next_key += MERGE_NEW
            p["pdf"] = self._rows(rng, keys)
        elif kind == "append":
            p["pdf"] = self._rows(rng, np.arange(self.next_key, self.next_key + APPEND_ROWS))
            self.next_key += APPEND_ROWS
        elif kind in ("delete_key", "delete_pos", "update", "scan_key"):
            a, b = self._key_range(rng, RANGE_KEYS)
            p["where"] = f"o_orderkey BETWEEN {a} AND {b}"
            p["preds"] = [Pred("o_orderkey", "between", (a, b))]
        elif kind in ("delete_date", "scan_date"):
            m = int(rng.integers(0, N_MONTHS))
            lo, hi = _month(m), _month(m + 1)
            p["where"] = f"o_orderdate >= {_lit(lo)} AND o_orderdate < {_lit(hi)}"
            p["preds"] = [Pred("o_orderdate", ">=", lo), Pred("o_orderdate", "<", hi)]
        elif kind == "read_tt":
            # the oldest snapshot still live, so every pass reads the
            # same table state back
            p["snapshot_id"] = next(
                s["snapshot_id"] for s in self.tbl.meta.snapshots
                if s["snapshot_id"] in self.fingerprints
            )
        if "pdf" in p:
            p["df"] = self.spark.createDataFrame(p["pdf"], DDL)
            if p["sql"]:
                self.sess.register_view(SOURCE, p["df"])
        return p

    # -- the timed call ---------------------------------------------------
    def run(self, p: dict, i: int) -> None:
        kind, tr, tbl = p["kind"], self.tr, self.tbl
        if p["sql"]:
            with tr.span("sqlfront.sql", i):
                self.sess.sql(self._sql(p))
        elif kind == "merge":
            with tr.span("icetbl.merge", i):
                dml.merge_into(tbl, p["df"], on=["o_orderkey"])
        elif kind == "append":
            with tr.span("icetbl.append", i):
                tbl.append(p["df"])
        elif kind in ("delete_key", "delete_date"):
            prune = p["preds"] if kind == "delete_date" else None
            with tr.span("icetbl.delete_cow", i):
                dml.delete_where(tbl, p["where"], prune=prune)
        elif kind == "delete_pos":
            with tr.span("icetbl.delete_pos", i):
                dml.delete_where_pos(tbl, p["where"])
        elif kind == "update":
            with tr.span("icetbl.update", i):
                dml.update_where(tbl, p["where"], {"o_totalprice": "o_totalprice + 1.0"})
        elif kind == "compact":
            with tr.span("icetbl.compact", i):
                maintenance.rewrite_data_files(tbl)
        elif kind == "expire":
            with tr.span("icetbl.expire", i):
                maintenance.expire_snapshots(tbl, retain_last=RETAIN_SNAPSHOTS)
        else:
            with tr.span("icetbl.load", i):
                reader = IceTable.load(self.spark, self.loc)
            if kind == "read_tt":
                with tr.span("icetbl.read_tt", i):
                    df = reader.read(snapshot_id=p["snapshot_id"])
            else:
                with tr.span("icetbl.scan", i):
                    df = reader.scan(p["preds"])
                p["scan_report"] = reader.last_scan_report
            with tr.span("spark.action", i):
                df.write.format("noop").mode("overwrite").save()
            p["result"] = df

    def _sql(self, p: dict) -> str:
        kind = p["kind"]
        if kind == "merge":
            sets = ", ".join(f"{c} = s.{c}" for c in COLUMNS[1:])
            vals = ", ".join(f"s.{c}" for c in COLUMNS)
            return (f"MERGE INTO {TABLE} AS t USING (SELECT * FROM {SOURCE}) AS s "
                    f"ON t.o_orderkey = s.o_orderkey "
                    f"WHEN MATCHED THEN UPDATE SET {sets} "
                    f"WHEN NOT MATCHED THEN INSERT VALUES ({vals})")
        if kind == "append":
            return f"INSERT INTO {TABLE} SELECT * FROM {SOURCE}"
        if kind == "update":
            return f"UPDATE {TABLE} SET o_totalprice = o_totalprice + 1.0 WHERE {p['where']}"
        return f"DELETE FROM {TABLE} WHERE {p['where']}"

    # -- after the timed call: shadow replay and checks --------------------
    def check(self, p: dict) -> bool:
        """Replay the op on the shadow, update the space and write
        counters, and compare fingerprints. Returns True on a match."""
        kind, tbl = p["kind"], self.tbl
        if kind in ("scan_date", "scan_key", "read_tt"):
            got = self._spark_fp(p.pop("result"))
            if kind == "read_tt":
                want = self.fingerprints[p["snapshot_id"]]
            else:
                want = self._shadow_fp(p["where"])
                rep = p["scan_report"]
                self.stats["scan_files_frac"].append(rep["files_scanned"] / max(1, rep["files_total"]))
                self.stats["scan_bytes_frac"].append(rep["bytes_scanned"] / max(1, rep["bytes_total"]))
                self.stats["delete_files_read"].append(rep["delete_files_read"])
            return got == want

        paths, live_rows, live_bytes = self._before
        changed = self._replay(p)
        files = self._data_files()
        written = sum(s for f, s in files.items() if f not in self.seen_files)
        self.stats["bytes_written"] += written
        if kind not in ("compact", "expire"):
            self.stats["bytes_changed"] += changed * live_bytes / max(1, live_rows)
            removed = paths - {f["path"] for f in tbl.meta.current_files()}
            self.stats["files_rewritten"].append(len(removed))
        self.seen_files = files
        self.stats["files_live_max"] = max(self.stats["files_live_max"], len(tbl.meta.current_files()))
        self.stats["snapshots_live_max"] = max(self.stats["snapshots_live_max"], len(tbl.meta.snapshots))
        fp = self._shadow_fp()
        self.fingerprints[tbl.meta.current_snapshot_id] = fp
        live_ids = {s["snapshot_id"] for s in tbl.meta.snapshots}
        self.fingerprints = {k: v for k, v in self.fingerprints.items() if k in live_ids}
        return self._committed_fp() == fp

    def before(self) -> None:
        """Remember the live files, rows and bytes before a write."""
        files = self.tbl.meta.current_files()
        self._before = ({f["path"] for f in files},
                        sum(f.get("record_count", 0) for f in files),
                        sum(f.get("file_size", 0) for f in files))

    def _replay(self, p: dict) -> int:
        """Apply the op to the shadow; return the number of rows it changed."""
        kind, d = p["kind"], self.duck
        if kind in ("compact", "expire"):
            return 0
        before = d.execute("SELECT count(*) FROM shadow").fetchone()[0]
        if kind in ("merge", "append"):
            d.register("src", p["pdf"])
            if kind == "merge":
                d.execute("DELETE FROM shadow WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
            d.execute("INSERT INTO shadow SELECT * FROM src")
            d.unregister("src")
            return len(p["pdf"])
        where = p["where"]
        if kind == "update":
            n = d.execute(f"SELECT count(*) FROM shadow WHERE {where}").fetchone()[0]
            d.execute(f"UPDATE shadow SET o_totalprice = o_totalprice + 1.0 WHERE {where}")
            return int(n)
        d.execute(f"DELETE FROM shadow WHERE {where}")
        return int(before - d.execute("SELECT count(*) FROM shadow").fetchone()[0])

    def finish(self) -> dict:
        """End-of-run table metrics."""
        total = meta = 0
        for root, _dirs, names in os.walk(self.loc):
            for n in names:
                size = os.path.getsize(os.path.join(root, n))
                total += size
                if os.path.basename(root) == "metadata":
                    meta += size
        live = sum(f.get("file_size", 0) for f in self.tbl.meta.current_files())
        self.duck.close()
        s = self.stats
        return {
            "write_amp": s["bytes_written"] / max(1.0, s["bytes_changed"]),
            "space_amp": total / max(1, live),
            "metadata_mb": meta / 2**20,
            "files_rewritten_per_write": mean(s["files_rewritten"]),
            "files_live_max": s["files_live_max"],
            "snapshots_live_max": s["snapshots_live_max"],
            "scan_files_frac": mean(s["scan_files_frac"]),
            "scan_bytes_frac": mean(s["scan_bytes_frac"]),
            "delete_files_read": mean(s["delete_files_read"]),
        }
