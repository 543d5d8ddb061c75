"""Output check, run outside the timed region.

A query with a DuckDB oracle (``ORACLES``) must hash-equal the oracle's
result over the same parquet files. Every other query must hash-equal the
result pinned in ``pinned_hashes.json``, keyed by core count, because
approximate operators size their work by the core count. Both sides hash
with ``scripts/gate_check.py``'s canonical ``value_hash``.

The oracle's hash is a function of its SQL text and the input files only, so
it is memoized in ``.perfbench/oracle_hashes.json`` at the repository root
under a key of both; DuckDB runs again whenever either changes.
"""

from __future__ import annotations

import hashlib
import json
import os

from gate_check import TABLES, value_hash

PINNED = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "pinned_hashes.json"
)


def result_hash(df) -> tuple[str, int]:
    """``(hash, rows)`` of a DataFrame's collected result."""
    rows = [tuple(r) for r in df.collect()]
    return value_hash(rows, df.columns, sorted(df.columns)), len(rows)


class Checker:
    """Checks query outputs for one run; owns the DuckDB connection."""

    def __init__(self, sf_dir: str, cores: int, cache_path: str, oracles: dict):
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.cache_path = cache_path
        with open(PINNED) as f:
            self.pinned = json.load(f).get(str(cores), {})
        self.cores = cores
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self._con = None
        self._inputs = None

    def _input_key(self) -> str:
        if self._inputs is None:
            stats = []
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                st = os.stat(path)
                stats.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
            self._inputs = "|".join(stats)
        return self._inputs

    def _oracle_hash(self, name: str, columns: list[str]) -> tuple[str, int]:
        sql = self.oracles[name]
        key = hashlib.sha256(
            "\0".join([sql, self._input_key(), ",".join(columns)]).encode()
        ).hexdigest()
        if key not in self.cache:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                for t in TABLES:
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')"
                    )
            res = self._con.execute(sql)
            names = [d[0] for d in res.description]
            rows = res.fetchall()
            self.cache[key] = [value_hash(rows, names, columns), len(rows)]
        h, n = self.cache[key]
        return h, n

    def check(self, name: str, df) -> tuple[bool, int, str]:
        """``(ok, rows, reason)`` for ``df``, the output of query ``name``."""
        got, rows = result_hash(df)
        if name in self.oracles:
            want, want_rows = self._oracle_hash(name, sorted(df.columns))
            if got == want:
                return True, rows, "oracle"
            return False, rows, f"oracle mismatch: {rows} rows vs {want_rows}"
        want = self.pinned.get(name)
        if want is None:
            return False, rows, f"no hash pinned for {self.cores} cores"
        if got == want:
            return True, rows, "pinned"
        return False, rows, "pinned hash mismatch"

    def close(self) -> None:
        """Persist the oracle memo and close DuckDB."""
        tmp = self.cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()
