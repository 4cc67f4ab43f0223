"""Order-insensitive value hashes and the DuckDB oracle cache.

A result's hash covers its column names, row count and every value's
``repr`` with columns sorted by name and rows sorted: the
normalisation of the repository's oracle-parity tests
(``tests/test_oracle_parity.normalize``), so a registry query matches
its DuckDB oracle exactly when those tests would pass.
Oracle hashes are cached by (sf directory, oracle text) in a JSON file
inside the checkout; the first run on a fresh checkout computes them.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading


def value_hash(columns, rows) -> str:
    from tests.test_oracle_parity import normalize

    out = normalize(rows, columns)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    h.update(str(len(out)).encode())
    for row in out:
        h.update(repr(row).encode())
    return h.hexdigest()


def spark_hash(df) -> str:
    return value_hash(df.columns, [tuple(r) for r in df.collect()])


class OracleCache:
    def __init__(self, path: str):
        self.path = path
        self._data: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self._data = json.load(fh)
        self._duck = None
        # steps may run side by side: one DuckDB query and cache write at a time
        self._lock = threading.Lock()

    def _connect(self, sf_dir: str):
        import duckdb
        from tests.conftest import register_duck_views

        if self._duck is None:
            self._duck = duckdb.connect()
        register_duck_views(self._duck, sf_dir)
        return self._duck

    def hash(self, sf_dir: str, sql: str) -> str:
        key = hashlib.sha256(f"{os.path.normpath(sf_dir)}\n{sql}".encode()).hexdigest()
        with self._lock:
            if key not in self._data:
                res = self._connect(sf_dir).execute(sql)
                self._data[key] = value_hash([d[0] for d in res.description], res.fetchall())
                os.makedirs(os.path.dirname(self.path), exist_ok=True)
                tmp = f"{self.path}.{os.getpid()}.tmp"
                with open(tmp, "w") as fh:
                    json.dump(self._data, fh, indent=1, sort_keys=True)
                os.replace(tmp, self.path)
            return self._data[key]

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None
