"""Output checks: registry results against their DuckDB oracle.

A result is reduced to a hash of its normalised frame, using the
normalisation of ``tests/helpers.assert_frames_match`` (columns by
name, rows sorted, dtypes unified). Equal hashes mean the frames would
pass that assertion. Oracle hashes depend only on the oracle SQL and
the generated tables, so they are cached in the benchmark's state
directory and computed once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd

from tests.helpers import assert_driver_sortable, normalize

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def frame_hash(pdf: pd.DataFrame, name: str) -> dict:
    """Row count, sorted column names and a hash of the normalised
    values and dtypes. Raises, as the test helper does, if the raw
    frame's rows cannot be sorted."""
    assert_driver_sortable(pdf, name)
    ndf = normalize(pdf)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(t)] for c, t in ndf.dtypes.items()]).encode())
    if len(ndf):
        h.update(pd.util.hash_pandas_object(ndf, index=False).values.tobytes())
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": h.hexdigest()}


class Oracle:
    """DuckDB over the generated tables, with a per-query hash cache."""

    def __init__(self, data_dir: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connection(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')"
                )
        return self._con

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        got = frame_hash(self._connection().execute(sql).df(), name)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(got, fh)
        os.replace(tmp, path)
        return got

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
