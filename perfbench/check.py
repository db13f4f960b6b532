"""Output checks for registry queries: Spark's rows against the DuckDB oracle.

The rule is the row-multiset rule of the repository's oracle harness: same
column names (order-free), same row count, same multiset of canonicalised
rows (floats rounded to 9 places). A query without oracle SQL is rows-only:
it must return at least one row.

Oracle answers depend only on the generated tables and the oracle SQL, so
they are computed once per checkout and pickled under the work dir (only
this module reads those files), keyed by a hash of the SQL text.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import pickle

_DUCKDB_THREADS = 4


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def multiset(cols: list[str], rows) -> dict[tuple, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict[tuple, int] = {}
    for row in rows:
        key = tuple(canon(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


class Oracle:
    """Cached DuckDB answers for the queries of one data directory."""

    def __init__(self, sf_dir: str, cache_dir: str, tables: list[str],
                 oracle_sql: dict[str, str]):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.tables = tables
        self.sql = oracle_sql

    def _path(self, name: str) -> str:
        return os.path.join(self.cache_dir, f"{name}.pickle")

    def _key(self, name: str) -> str:
        return hashlib.sha256(self.sql[name].encode()).hexdigest()

    def missing(self, names) -> list[str]:
        out = []
        for n in names:
            if n not in self.sql:
                continue
            try:
                with open(self._path(n), "rb") as fh:
                    if pickle.load(fh)["sql_sha256"] == self._key(n):
                        continue
            except (OSError, EOFError, pickle.UnpicklingError, KeyError):
                pass
            out.append(n)
        return out

    def compute(self, names, tmp_dir: str) -> None:
        """Run the oracle SQL of ``names`` in DuckDB and store the answers."""
        import duckdb

        os.makedirs(self.cache_dir, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={_DUCKDB_THREADS}")
            con.execute(f"SET temp_directory='{tmp_dir}'")
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.isdir(path):
                    path = os.path.join(path, "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for n in names:
                cur = con.execute(self.sql[n])
                cols = [d[0] for d in cur.description]
                doc = {"sql_sha256": self._key(n), "cols": sorted(cols),
                       "rows": multiset(cols, cur.fetchall())}
                tmp = self._path(n) + ".tmp"
                with open(tmp, "wb") as fh:
                    pickle.dump(doc, fh)
                os.replace(tmp, self._path(n))
        finally:
            con.close()

    def verify(self, name: str, cols: list[str], rows) -> str | None:
        """``None`` when Spark's ``rows`` match, else what differs."""
        if name not in self.sql:
            return None if len(rows) > 0 else "rows-only query returned no rows"
        with open(self._path(name), "rb") as fh:
            doc = pickle.load(fh)
        if sorted(cols) != doc["cols"]:
            return f"columns differ: spark={sorted(cols)} oracle={doc['cols']}"
        want = doc["rows"]
        got = multiset(cols, rows)
        if sum(got.values()) != sum(want.values()):
            return f"row count differs: spark={sum(got.values())} oracle={sum(want.values())}"
        if got != want:
            only_s = [k for k in got if got[k] != want.get(k, 0)][:3]
            only_o = [k for k in want if want[k] != got.get(k, 0)][:3]
            return f"values differ: spark-only={only_s} oracle-only={only_o}"
        return None
