"""Correctness gate for query outputs: the engine's result against its
DuckDB oracle, in the canonical form of ``scripts/driver_sim.py``
(columns sorted by name, floats as ``%.9e``, rows sorted), which is
imported from there so the two cannot drift apart."""

from __future__ import annotations

import hashlib
import json
import os

from driver_sim import TABLES, canon


def digest(rows, cols) -> dict:
    """Order-free summary of one result: sorted columns, row count and
    a hash of the canonical rows."""
    h = hashlib.sha256()
    for line in canon(rows, cols):
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return {"cols": sorted(cols), "rows": len(rows), "sha256": h.hexdigest()}


class Oracles:
    """DuckDB oracle digests over one table directory, cached in a JSON
    file keyed by the oracle SQL (the tables are fixed per cache file)."""

    def __init__(self, table_dir: str, cache_path: str):
        self.table_dir = table_dir
        self.cache_path = cache_path
        self._con = None
        try:
            with open(cache_path) as fh:
                self.cache = json.load(fh)
        except (OSError, ValueError):
            self.cache = {}

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.table_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            cur = self._connect().execute(sql)
            cols = [d[0] for d in cur.description]
            self.cache[key] = digest(cur.fetchall(), cols)
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_path)
        return self.cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
